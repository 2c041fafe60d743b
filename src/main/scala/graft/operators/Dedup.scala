package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Fixpoint
import graft.functions.{Seeds, Text}

/** Near-dup pairs of [[Dedup.minhashLshRun]], [[Dedup.simhashRun]] and
  * [[Dedup.incrementalNearDupNewRun]]. Their shared tables are local
  * checkpoints that nobody has to release, so this wrapper holds nothing
  * but `pairs`; it stays only because the perfbench runner calls
  * `minhashLshRun(...).materialize`. */
final class DedupRun(val pairs: DataFrame) {
  def materialize[T](f: DataFrame => T): T = f(pairs)
}

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB regime:
  *
  *   - exact: hash-groupBy on a content digest — one shuffle of digests,
  *     never of document bodies.
  *   - MinHash+LSH: shingle → k minhashes → band buckets → candidate
  *     pairs only within buckets → exact-Jaccard verify. The candidate
  *     join is the only quadratic step and it is quadratic per *bucket*,
  *     not per corpus.
  *   - SimHash: 64-bit signature, near-dup = small Hamming distance;
  *     banding on signature bytes gives the same bucketed-join shape.
  *   - n-gram Jaccard: the exact verifier, also usable standalone inside
  *     explicit blocks.
  *
  * All hashing is xxhash64 (Spark builtin, codegen'd, deterministic across
  * runs and partitionings — a hard requirement for reproducible dedup).
  */
object Dedup {

  /** Content digest for exact dedup. md5 keeps DuckDB-oracle parity;
    * xxhash64 is the cheaper production digest (collision risk 2^-64/pair). */
  def digest(text: Column): Column = md5(text)

  /** Exact duplicate groups: one row per distinct content, with the
    * representative (minimum) id and the multiplicity. */
  def exactGroups(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    docs.groupBy(digest(col(text)).as("content_hash"))
      .agg(min(col(id)).as("rep_id"), count(lit(1)).as("n_copies"))

  /** Incremental (batch-vs-corpus) exact dedup — the continuous-ingest
    * shape: of a new `batch`, keep one representative (minimum id) per
    * content digest AND drop every digest already present in `corpus`.
    * `digestExpr` is any deterministic digest over the document columns
    * ([[digest]] for true content identity; a weaker digest — e.g. a text
    * prefix — for near-identity blocking).
    *
    * Scale: both sides reduce to digest-only projections before touching
    * each other — the batch side partial-aggregates (digest, min id)
    * map-side, the corpus side is a digest `distinct`, and the anti-join
    * shuffles digests, never bodies. At 100 TB the corpus digest set is
    * what a production pipeline would persist between ingests (or carry
    * as the [[Sketches]] Bloom filter when false-drops are acceptable —
    * q125's pattern); this operator is the exact form of that contract. */
  def incrementalNew(batch: DataFrame, corpus: DataFrame, digestExpr: Column,
                     id: String = "doc_id"): DataFrame = {
    val b = batch.select(col(id), digestExpr.as("__h"))
      .groupBy(col("__h")).agg(min(col(id)).as(id))
    val c = corpus.select(digestExpr.as("__h")).distinct()
    b.join(c, Seq("__h"), "left_anti").select(col(id))
  }

  /** Incremental batch-vs-corpus NEAR-dup filter — the production shape
    * of MinHash-LSH dedup: a new ingest batch probes the existing
    * corpus' band index instead of re-pairing the whole corpus
    * ([[incrementalNew]] is the exact-digest twin, q166). A batch
    * document is dropped when it has a verified Jaccard ≥ `threshold`
    * match (a) anywhere in the corpus, or (b) with any SMALLER-id batch
    * document — pairwise dominance, deliberately NOT the transitive
    * closure: a deterministic one-pass rule (conservative next to the
    * sequential keep-greedy — a doc dominated only by an itself-dropped
    * doc still drops), order-free and engine-re-derivable. `pairs` of
    * the returned [[DedupRun]] is the kept-ids frame.
    *
    * Scale: the corpus side contributes its band table (in production,
    * pre-materialized once and reused per batch) and its hashed shingle
    * sets only for verify candidates — corpus text never pairs with
    * itself, so the work is |batch-candidates|, not corpus². Band
    * buckets over `maxBucket` drop before probing (the
    * [[minhashLshRun]] hot-bucket guard, applied per side). Batch
    * documents with no shingles (shorter than the gram width) are kept
    * trivially, mirroring the pair builders. The batch and corpus
    * shingle tables, read by the band build AND the verify joins, are
    * checkpointed by [[shingleHashes]]. */
  def incrementalNearDupNewRun(batch: DataFrame, corpus: DataFrame,
                               id: String = "doc_id", text: String = "text",
                               shingleN: Int = 3, k: Int = 64, rowsPerBand: Int = 4,
                               threshold: Double = 0.8, maxBucket: Long = 0L): DedupRun = {
    val bsh = shingleHashes(batch, id, text, shingleN)
    val csh = shingleHashes(corpus, id, text, shingleN)
    val bb = bands(bsh, k, rowsPerBand, maxBucket)
    val cb = bands(csh, k, rowsPerBand, maxBucket)

    // (a) batch → corpus probe
    val corpusCands = bb.select(col("__band"), col("__id").as("id_a"))
      .join(cb.select(col("__band"), col("__id").as("id_b")), "__band")
      .select("id_a", "id_b").distinct()
    val hitCorpus = verifyJaccard(corpusCands, bsh, csh, threshold)
      .select(col("id_a").as(id)).distinct()

    // (b) within-batch dominance by any smaller id
    val batchCands = keyPairs(bb, "__id", Seq("__band")).distinct()
    val dominated = verifyJaccard(batchCands, bsh, bsh, threshold)
      .select(col("id_b").as(id)).distinct()

    val kept = batch.select(col(id))
      .join(hitCorpus, Seq(id), "left_anti")
      .join(dominated, Seq(id), "left_anti")
    new DedupRun(kept)
  }

  /** Exact-dedup projection: keep only the representative row per content
    * group — the distributed `DISTINCT ON (content)`. */
  def exactDedup(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val w = Window.partitionBy(digest(col(text))).orderBy(col(id))
    docs.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** (`__id`, `__bh` = one xxhash64 per distinct `shingleN`-gram) of
    * every document with at least one shingle.
    *
    * The round-robin repartition spreads the per-document tokenizing and
    * hashing over every core: a compact parquet input (one row group)
    * would otherwise pin the whole corpus to one task. The table is read
    * by several plan branches (banding and both verify sides), so it is
    * an eager local checkpoint and shingling runs once per document. The
    * checkpoint is MEMORY_AND_DISK (it spills at corpus scale instead of
    * recomputing, as in Spark ML's MinHashLSHModel), is registered
    * nowhere, and its blocks go once the frame is unreachable.
    *
    * The empty-set filter sits above the checkpoint on purpose: below it,
    * Catalyst pushes the filter under the repartition, and every document
    * is shingled twice — once in the filter on the input's partitions,
    * once in the projection after the exchange. */
  private def shingleHashes(docs: DataFrame, id: String, text: String,
                            shingleN: Int): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(id).as("__id"), transform(
        array_distinct(Text.shingles(col(text), shingleN)), s => xxhash64(s)).as("__bh"))
      .localCheckpoint()
      .filter(size(col("__bh")) > 0)

  /** k deterministic minhash values from a PRE-HASHED shingle array
    * (`baseHashes` = one xxhash64 per distinct shingle). Each variable-
    * length shingle string is hashed ONCE; the k permutations re-hash the
    * resulting fixed-width long (seeded xxhash64) — ~k× cheaper than k
    * string-hash passes, and overflow-free under ANSI mode (a wrapping
    * linear-congruential family would need non-ANSI multiply).
    *
    * Implemented as a native single-pass Expression (HashKernels) —
    * bit-identical to the `array((0 until k).map(i => array_min(transform(
    * bh, h => xxhash64(lit(i), h)))))` builtin chain for NON-EMPTY inputs
    * (empty → null here vs k nulls there; filter empty shingle sets first,
    * as the pair builders do), without the k intermediate arrays and k
    * re-walks. */
  def minhashes(baseHashes: Column, k: Int): Column =
    graft.functions.HashKernels.minhashesCol(baseHashes, k)

  /** LSH band keys: split the k minhashes into bands of `rowsPerBand` and
    * hash each band — docs sharing any band key are candidates. */
  def bandKeys(minhashCol: Column, k: Int, rowsPerBand: Int): Column = {
    require(k % rowsPerBand == 0)
    array((0 until k / rowsPerBand).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(slice(minhashCol, b * rowsPerBand + 1, rowsPerBand)).as("h"))
    }: _*)
  }

  /** Exact Jaccard similarity of two (already distinct) arrays. Integer
    * set sizes → exact double division, engine-independent. Single
    * intersect: |A∪B| = |A|+|B|−|A∩B| (half the set-op cost of
    * intersect+union on the pair-verification hot path). */
  def jaccard(a: Column, b: Column): Column = {
    val i = size(array_intersect(a, b))
    i.cast("double") / (size(a) + size(b) - i)
  }

  /** LSH bands of shingled documents: (`__id`, `__band`), one row per
    * band key of each document's k minhashes — signatures and shingles
    * do NOT ride the explode. `maxBucket > 0` is the hot-bucket guard: one
    * partial-aggregated count per band key, and keys holding more than
    * `maxBucket` documents drop via a broadcast anti-join (the hot set is
    * tiny by construction — it's the degenerate tail). */
  private def bands(sh: DataFrame, k: Int, rowsPerBand: Int, maxBucket: Long): DataFrame = {
    val all = sh
      .withColumn("__mh", minhashes(col("__bh"), k))
      .select(col("__id"), explode(bandKeys(col("__mh"), k, rowsPerBand)).as("__band"))
    if (maxBucket <= 0) all
    else {
      val hot = all.groupBy("__band").count()
        .filter(col("count") > maxBucket).select("__band")
      all.join(broadcast(hot), Seq("__band"), "left_anti")
    }
  }

  /** The candidate-pair self-join every pair builder here shares: rows of
    * `df` that agree on every `keys` column, ordered `id_a < id_b` (each
    * unordered pair once, no self-pairs). Returns `id_a`, `id_b` and each
    * `carry` column as `<c>_a`, `<c>_b`. Keys compare column by column,
    * so a null key never pairs. Pairs sharing several key values repeat;
    * callers `distinct` them before verifying. */
  private def keyPairs(df: DataFrame, id: String, keys: Seq[String],
                       carry: Seq[String] = Nil): DataFrame = {
    def side(s: String) = df.select((keys.map(k => col(k).as(s"${k}_$s")) :+ col(id).as(s"id_$s")) ++
      carry.map(c => col(c).as(s"${c}_$s")): _*)
    side("a").join(side("b"),
      keys.map(k => col(s"${k}_a") === col(s"${k}_b")).reduce(_ && _) && col("id_a") < col("id_b"))
      .select((Seq("id_a", "id_b") ++ carry.flatMap(c => Seq(s"${c}_a", s"${c}_b"))).map(col): _*)
  }

  /** Exact-Jaccard verify of candidate (`id_a`, `id_b`) pairs on the
    * HASHED shingle sets (`__id`, `__bh`) of each side: set algebra over
    * fixed longs instead of variable strings (same counts barring 2^-64
    * collisions); each document's set shuffles once per side — never k×
    * through the bands. Keeps pairs with `jac` ≥ `threshold`. */
  private def verifyJaccard(cands: DataFrame, shA: DataFrame, shB: DataFrame,
                            threshold: Double): DataFrame =
    cands
      .join(shA.select(col("__id").as("id_a"), col("__bh").as("sh_a")), "id_a")
      .join(shB.select(col("__id").as("id_b"), col("__bh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jac"))
      .filter(col("jac") >= threshold)

  /** MinHash-LSH near-duplicate pairs (`id_a`, `id_b`, `jac`) with
    * exact-Jaccard verification.
    *
    * @param k          minhash count (default 64)
    * @param rowsPerBand band size r; recall for similarity s is
    *                   1-(1-s^r)^(k/r) — r=4,b=16 catches s≥0.8 w.p. >0.999
    * @param threshold  exact-Jaccard acceptance threshold on shingle sets
    *
    * Pipeline: shingle → minhash → explode band keys → self-join per
    * bucket (id< id dedups the pair space) → distinct pairs → verify.
    * Only signatures and ids shuffle; document text never does.
    *
    * `maxBucket > 0` drops band buckets holding more than that many
    * documents BEFORE the candidate self-join — the standard hot-bucket
    * mitigation at corpus scale, where a degenerate band (boilerplate,
    * stopword shingles, near-empty docs) otherwise contributes |bucket|²/2
    * candidate pairs on one key. The trade is explicit, bounded recall
    * loss: a true near-dup pair is missed only if EVERY band it shares is
    * over the cap (mega-cluster members — which exact-dedup or a length
    * gate should have removed first). 0 = unlimited (exact-recall mode,
    * the q36 oracle contract). */
  def minhashLshRun(docs: DataFrame, id: String = "doc_id", text: String = "text",
                    shingleN: Int = 3, k: Int = 64, rowsPerBand: Int = 4,
                    threshold: Double = 0.8, maxBucket: Long = 0L): DedupRun = {
    // one base hash per distinct shingle (hashed once, reused k×),
    // checkpointed: see shingleHashes
    val sh = shingleHashes(docs, id, text, shingleN)
    // candidate pairs: bucket self-join on (band idx, band hash), then
    // DISTINCT before any verification — a pair sharing m bands must be
    // verified once, not m times
    val candidates = keyPairs(bands(sh, k, rowsPerBand, maxBucket), "__id", Seq("__band")).distinct()
    new DedupRun(verifyJaccard(candidates, sh, sh, threshold))
  }

  /** 64-bit SimHash of a token-hash array: per-bit majority vote over the
    * per-token xxhash64 values (ties set the bit). Native single-pass
    * Expression (HashKernels) — replaces 64 `aggregate` bit-fold passes
    * with one walk of the hash array; values are identical. */
  def simhashFromHashes(hashesCol: Column): Column =
    graft.functions.HashKernels.simhash64Col(hashesCol)

  def simhash(tokensCol: Column): Column =
    simhashFromHashes(transform(tokensCol, t => xxhash64(t)))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs (`id_a`, `id_b`, `dist`): one 64-bit
    * signature per document, paired by [[signaturePairs]] — its
    * `maxHamming + 1` chunk banding (4×16-bit chunks at the default radius
    * 3) bucket-joins on equal chunks and verifies by full Hamming. Recall
    * is EXACT for every `maxHamming` ≤ 15 (the pigeonhole is
    * deterministic, not probabilistic), so the result equals the
    * all-pairs Hamming filter — which is what the q37 oracle checks.
    *
    * Scale ceiling + fix: at radius 3 the chunk keys are 16-bit, so an
    * UNBLOCKED corpus has at most 4×65,536 buckets and candidate pairs
    * grow ~n²/2¹⁸ — fine at millions of docs, quadratic at billions.
    * `blockCols` composes cheap blocking keys (language, length bucket,
    * source) into the bucket key: buckets become 4×65,536×|blocks| and
    * only same-block pairs are emitted — the same recall trade
    * `blockedJaccardPairs` makes (a null block value never pairs), with
    * the cardinality math recorded in SCALE.md.
    *
    * `portable = true` derives token hashes from md5 lower-64
    * (`Seeds.portableHash64`) instead of xxhash64 — slower, but any engine
    * with md5 reproduces the signatures bit-for-bit (the DuckDB oracle
    * re-derives them from hex digits). Documents with no tokens are
    * excluded (an empty token multiset has no meaningful signature; the
    * majority vote would give all-ones). */
  def simhashRun(docs: DataFrame, id: String = "doc_id", text: String = "text",
                 maxHamming: Int = 3, blockCols: Seq[String] = Nil,
                 portable: Boolean = false): DedupRun = {
    val tokenHash: Column => Column =
      if (portable) Seeds.portableHash64 else (t => xxhash64(t))
    // one signature per document, checkpointed: both join sides read it,
    // and without the checkpoint it is computed twice per document.
    // Documents with no token get a null signature, dropped ABOVE the
    // checkpoint — a filter below it would be pushed under the repartition
    // and tokenize every document twice (see shingleHashes)
    val sigs = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select((blockCols.map(col) :+ col(id).as("__id") :+
        transform(Text.tokens(col(text)), tokenHash).as("__th")): _*)
      .withColumn("__sig", when(size(col("__th")) > 0, simhashFromHashes(col("__th"))))
      .drop("__th")
      .localCheckpoint()
    new DedupRun(signaturePairs(sigs.filter(col("__sig").isNotNull), maxHamming,
      id = "__id", sig = "__sig", blockCols = blockCols))
  }

  /** Hamming near-dup pairs (`id_a`, `id_b`, `dist`) for ANY 64-bit
    * signature table — text simhashes ([[simhashRun]]), perceptual image
    * hashes from `Multimodal.imageAHashBatch`, audio fingerprints, … The
    * 64 bits split into `maxHamming + 1` chunks of ⌈64/(h+1)⌉ bits (the
    * last chunks narrower when they don't divide evenly), bucket-join on
    * equal chunks (and equal `blockCols`), full-Hamming verify. Recall is
    * pigeonhole-EXACT for every h — h differing bits can dirty at most h
    * of the h+1 chunks, so every true pair shares ≥ 1 chunk verbatim.
    * Signatures are 8 bytes, so they ride the chunk explode rather than
    * being re-joined for the verify; `distinct` dedups pairs sharing
    * several chunks.
    *
    * Scale math (the parameter's REAL cost): with chunk width
    * w = ⌈64/(h+1)⌉ an unblocked corpus forms ~(h+1)·n²/2ʷ⁺¹ candidate
    * pairs — h=3 ⇒ 16-bit keys (the simhash regime), h=8 ⇒ 8-bit keys
    * (the perceptual-image operating point, 256 buckets per chunk slot),
    * h=15 ⇒ 4-bit keys. Past h≈8 the chunk keys alone no longer prune at
    * corpus scale; compose a blocking key (near-dup images are
    * same-dimensions/same-format in practice) through `blockCols` — the
    * cap below fails fast where even blocked banding stops making sense. */
  def signaturePairs(sigs: DataFrame, maxHamming: Int = 3,
                     id: String = "doc_id", sig: String = "sig",
                     blockCols: Seq[String] = Nil): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming > 15 means chunk keys under 4 bits - banding cannot prune: $maxHamming")
    val nChunks = maxHamming + 1
    // partition the 64 bits into nChunks NON-EMPTY spans (the first
    // 64 mod n chunks one bit wider) — a naive ⌈64/n⌉ stride leaves a
    // zero-width tail chunk whenever n ∤ 64 crosses the boundary (n = 9:
    // offsets 0,8,…,64), and an always-equal empty key silently
    // degenerates the band join to ALL-PAIRS
    val widths = Array.tabulate(nChunks)(i => 64 / nChunks + (if (i < 64 % nChunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val chunked = sigs.select((blockCols.map(col) :+ col(id).as("__id") :+ col(sig).as("__sig") :+
      explode(array((0 until nChunks).map { i =>
        // width == 64 only for h = 0 (one chunk = the whole signature);
        // (1L << 64) - 1 would be 0 under JVM shift-mod-64, so skip the mask
        val c = if (widths(i) == 64) col(sig)
          else shiftright(col(sig), offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
        struct(lit(i).as("i"), c.as("c"))
      }: _*)).as("__chunk")): _*)
    keyPairs(chunked, "__id", blockCols :+ "__chunk", carry = Seq("__sig"))
      .select(col("id_a"), col("id_b"), hamming(col("__sig_a"), col("__sig_b")).as("dist"))
      .filter(col("dist") <= maxHamming)
      .distinct()
  }

  /** Connected components over near-dup pairs: dedup at corpus scale ends
    * with CLUSTERS (keep one representative per component), not pairs —
    * a pair list where A~B and B~C must collapse {A,B,C} together.
    *
    * Min-label propagation: every node repeatedly takes the minimum id
    * among itself and its neighbors until a fixpoint; the round count is
    * the graph diameter. The rounds run in [[graft.core.Fixpoint]], one
    * SQL execution each, except that rounds 1 and 2 share the first: so
    * a call is ONE execution when round 2 changes nothing (stars and
    * cliques, i.e. most near-dup graphs).
    *
    * Returns (id, component) with component = min id in the cluster; docs
    * absent from `pairs` are their own components and are not emitted. A
    * null endpoint joins nothing: it is emitted once as (null, null).
    *
    * Throws IllegalStateException if the fixpoint is not reached within
    * `maxIters` propagation rounds — truncated labels are NOT valid
    * components and silently returning them would under-merge clusters. */
  def components(pairs: DataFrame, a: String = "id_a", b: String = "id_b",
                 maxIters: Int = 20): DataFrame = {
    require(maxIters >= 1, s"components: maxIters must be positive, got $maxIters")
    // min is idempotent under duplicate edges, so no distinct; the persist
    // keeps the callers' pair plans from being recomputed every round
    val edges = pairs.select(col(a).as("src"), col(b).as("dst"))
      .union(pairs.select(col(b).as("src"), col(a).as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a label changes iff its smallest neighbor label `nmin` is smaller;
    // the change is counted before `relabel` drops `nmin`
    val changed = count(when(col("nmin") < col("component"), lit(1))).as("changed")
    val relabel: DataFrame => DataFrame = _.select(col("id"),
      least(col("component"), coalesce(col("nmin"), col("component"))).as("component"))
    // Round 1 needs no labels: a node's label is least(id, min(dst)). Round 2
    // joins each edge to its dst's round-1 label and groups by src, whose rows
    // also give src's own round-1 label. Min skips a null dst, which later
    // joins never match either; a null id gets a null label. The merge join
    // reuses round 1's partitioning, where a broadcast would be a serial job.
    val round1 = edges.groupBy("src").agg(min("dst").as("m"))
      .select(col("src").as("dst"), least(col("src"), col("m")).as("c"))
    // Fixpoint round 1 is rounds 1 and 2 (it reads no state), round r is r + 1
    val (labels, left) = Fixpoint.iterate(edges, math.max(1, maxIters - 1), finish = relabel) {
      case (_, 1) =>
        (edges.join(round1.hint("merge"), Seq("dst"), "left")
          .groupBy(col("src").as("id")).agg(min("dst").as("m"), min("c").as("nmin"))
          .select(col("id"),
            when(col("id").isNotNull, least(col("id"), col("m"))).as("component"),
            when(col("id").isNotNull, col("nmin")).as("nmin")),
          Some(if (maxIters > 1) changed
            else count(when(col("component") < col("id"), lit(1))).as("changed1")))
      case (prev, _) =>
        val neighborMin = edges.join(prev, edges("dst") === prev("id"))
          .groupBy(col("src")).agg(min("component").as("nmin"))
        (prev.join(neighborMin, prev("id") === col("src"), "left")
          .select(prev("id"), col("component"), col("nmin")), Some(changed))
    }
    edges.unpersist()
    if (left.get > 0)
      throw new IllegalStateException(
        s"components() did not converge in $maxIters iterations " +
          s"(${left.get} labels still changing); raise maxIters")
    labels
  }

  /** Exact n-gram-Jaccard pairs within explicit blocks (e.g. language ×
    * source) — the blocked-dedup baseline and the oracle for the
    * probabilistic variants. */
  def blockedJaccardPairs(docs: DataFrame, blockCols: Seq[String],
                          id: String = "doc_id", text: String = "text",
                          shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = docs.select(
      (blockCols.map(col) :+ col(id).as("__id") :+
        array_distinct(Text.shingles(col(text), shingleN)).as("sh")): _*)
    keyPairs(sh, "__id", blockCols, carry = Seq("sh"))
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** EXACT Jaccard-threshold pairs with NO blocking recall loss — prefix
    * filtering (the AllPairs/PPJoin family). Each document's distinct
    * shingles sort in one GLOBAL canonical order (document frequency
    * ascending, ties by token): a pair with Jaccard ≥ t = num/den MUST
    * share a token inside each side's first |d| − ⌈t·|d|⌉ + 1 tokens —
    * if all shared tokens sat in the suffix of length ⌈t·|d|⌉ − 1, then
    * |A∩B| ≤ ⌈t·|d|⌉ − 1 < t·|d| ≤ t·|A∪B| ≤ |A∩B|, a contradiction.
    * So the candidate join runs on PREFIX tokens only, and rarest-first
    * ordering puts the lowest-fanout tokens in the prefixes — the
    * candidate set shrinks to near the true pair count while recall
    * stays exactly 1 (the guarantee LSH trades away). Verification is an
    * integer cross-multiplied comparison (den·∩ ≥ num·∪): no FP
    * threshold wobble. Scale: the df table is a broadcast join; only
    * candidate pairs ever carry full shingle arrays; threshold acts on
    * prefix-index size as Σ(1−t)|d|, so higher thresholds cost less. */
  def prefixFilteredJaccardPairs(docs: DataFrame, id: String = "doc_id",
                                 text: String = "text", shingleN: Int = 3,
                                 thresholdNum: Int = 1, thresholdDen: Int = 2): DataFrame = {
    require(thresholdNum > 0 && thresholdDen >= thresholdNum)
    val sh = docs.select(col(id).as("__id"),
      explode(array_distinct(Text.shingles(col(text), shingleN))).as("tok"))
    val dfTab = sh.groupBy("tok").agg(count(lit(1)).as("df"))
    val docSets = sh.join(broadcast(dfTab), Seq("tok"))
      .groupBy("__id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ts"))
      .select(col("__id"), size(col("ts")).as("sz"),
        transform(col("ts"), _.getField("tok")).as("toks"))
      .localCheckpoint() // reused by the candidate AND verify stages
    val prefLen = (col("sz") -
      ceil(col("sz") * lit(thresholdNum) / lit(thresholdDen)) + 1).cast("int")
    val pref = docSets.select(col("__id"),
      explode(slice(col("toks"), lit(1), prefLen)).as("tok"))
    keyPairs(pref, "__id", Seq("tok")).distinct()
      .join(docSets.select(col("__id").as("id_a"), col("toks").as("toks_a"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(docSets.select(col("__id").as("id_b"), col("toks").as("toks_b"),
        col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .filter(col("inter") * thresholdDen >= col("uni") * thresholdNum)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("uni").cast("double")).as("jac"))
  }

  /** Cross-document duplicated-span detection — the exact-substring dedup
    * shape ("Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2022, done at word-k-gram granularity instead of a
    * corpus-wide suffix array, which does not distribute): a k-gram
    * occurrence is DUPLICATED when the same k tokens appear ≥
    * `minOccurrences` times anywhere in the corpus (other documents or
    * elsewhere in the same one); overlapping/adjacent duplicated windows
    * merge into maximal spans. Emits one row per maximal span —
    * (idCol, span_start, span_end, span_tokens), token positions 0-based
    * inclusive — the mask a rewrite/excision pass consumes.
    *
    * Plan: ONE tokenize pass (`posexplode` of the k-shingle list);
    * duplicated-ness is a count over the gram partition of that same
    * pass — no self-join (a stop-gram costs linear count work here, not
    * the df² pair fan-out of a postings join), no second corpus scan.
    * Exchanges carry (doc, pos, gram) rows — gram-shaped, k tokens wide;
    * document bodies never shuffle. The span merge is a per-document
    * lag/running-sum window over FLAGGED positions only — bounded by
    * tokens-per-document. Since every window has the same length k, ends
    * are ordered with starts and the merge condition is just
    * `pos > prev + k` (gaps-and-islands with a lag, no running-max).
    *
    * `portable = false` swaps the gram string for its xxhash64 before the
    * exchange — constant-width keys for a 100 TB run (a 2⁻⁶⁴/pair
    * collision can only over-flag); the md5-free string form is what a
    * DuckDB oracle can re-derive, so only `portable = true` is
    * oracle-mirrored (the capPerGroupAgg rule). All outputs are integers
    * — exact on any engine, any partitioning. */
  def duplicateSpans(docs: DataFrame, k: Int = 6, minOccurrences: Int = 2,
                     idCol: String = "doc_id", textCol: String = "text",
                     portable: Boolean = true): DataFrame =
    mergeSpans(gramOccurrences(docs, k, minOccurrences, idCol, textCol, portable)
      .filter(col("__cnt") >= minOccurrences)
      .select(col(idCol), col("__pos")), idCol, k)

  /** KEEP-FIRST variant of [[duplicateSpans]] — the Lee et al. 2022
    * keep-one-occurrence policy at the same k-gram granularity: for each
    * duplicated gram, its CANONICAL occurrence — the globally smallest
    * (idCol, position) among all occurrences, a deterministic pick that
    * no partitioning or retry can change — is left unflagged, and only
    * the other occurrences merge into excision spans. Feeding the mask
    * to [[exciseSpans]] then keeps duplicated content exactly once
    * corpus-wide instead of removing it everywhere (the SlimPajama
    * policy [[duplicateSpans]] serves).
    *
    * Same single-pass plan as [[duplicateSpans]] plus one more window
    * over the same gram exchange (`min(struct(doc, pos))` — the
    * canonical pick); the same k-gram hot-mass bound applies (at k ≥ 6
    * the hottest gram's window group is orders below a stop-token's —
    * the bound documented on [[duplicateSpans]]). Because flags are
    * per-OCCURRENCE, a document may keep gram g's canonical occurrence
    * while a neighboring duplicated gram is excised — span boundaries
    * are occurrence-exact, not class-exact (the same granularity trade
    * the detection side already makes vs a suffix array). */
  def duplicateSpansKeepFirst(docs: DataFrame, k: Int = 6, minOccurrences: Int = 2,
                              idCol: String = "doc_id", textCol: String = "text",
                              portable: Boolean = true): DataFrame = {
    val flagged = gramOccurrences(docs, k, minOccurrences, idCol, textCol, portable)
      .withColumn("__mn", min(struct(col(idCol).as("d"), col("__pos").as("p")))
        .over(Window.partitionBy("__g")))
      .filter(col("__cnt") >= minOccurrences &&
        !(col("__mn.d") === col(idCol) && col("__mn.p") === col("__pos")))
      .select(col(idCol), col("__pos"))
    mergeSpans(flagged, idCol, k)
  }

  /** The positional shingle pass of the span detectors: one row per
    * k-gram occurrence (idCol, `__pos`, `__g`), with `__cnt` = the gram's
    * occurrence count corpus-wide, a window over the gram partition of
    * that same pass. `portable = false` carries the gram's xxhash64
    * instead of its text. */
  private def gramOccurrences(docs: DataFrame, k: Int, minOccurrences: Int, idCol: String,
                              textCol: String, portable: Boolean): DataFrame = {
    require(k >= 2, s"span gram width must be >= 2: $k")
    require(minOccurrences >= 2, s"minOccurrences must be >= 2: $minOccurrences")
    docs
      .select(col(idCol), posexplode(Text.shingles(col(textCol), k)).as(Seq("__pos", "__g0")))
      .select(col(idCol), col("__pos"),
        (if (portable) col("__g0") else xxhash64(col("__g0")).cast("string")).as("__g"))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy("__g")))
  }

  /** Merge flagged k-gram occurrences (idCol, `__pos`) into maximal spans
    * (idCol, span_start, span_end, span_tokens): gaps-and-islands with a
    * lag and a running sum per document — every window is k tokens wide,
    * so a new island starts exactly where `pos > prev + k`. */
  private def mergeSpans(flagged: DataFrame, idCol: String, k: Int): DataFrame = {
    val wd = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    flagged
      .withColumn("__prev", lag(col("__pos"), 1).over(wd))
      .withColumn("__new",
        when(col("__prev").isNull || col("__pos") > col("__prev") + k, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(wd))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__pos")).cast("long").as("span_start"),
        (max(col("__pos")) + (k - 1)).cast("long").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Apply a [[duplicateSpans]] mask: excise every duplicated span of at
    * least `minSpanTokens` tokens from every document, rebuilding the
    * text from the surviving tokens (the remove-everywhere policy —
    * SlimPajama-style; [[duplicateSpansKeepFirst]] produces the mask for
    * the Lee-et-al keep-one-occurrence policy).
    * Returns every input document: (idCol, kept_text, n_tok, n_removed)
    * — unspanned documents pass through with their token stream intact.
    *
    * Plan: spans collapse to one doc-width row of (start, end) structs
    * (spans per document are few — they are MERGED maximal intervals),
    * joined back on the document key; the rebuild is row-local
    * higher-order-function work (index-aware `transform` + `filter`,
    * O(tokens · spans) per row) inside codegen — no exchange beyond the
    * doc-keyed span join, document text never shuffles. */
  def exciseSpans(docs: DataFrame, spans: DataFrame, minSpanTokens: Long = 0L,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sp = spans.filter(col("span_tokens") >= minSpanTokens)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__sp"))
    val toks = Text.tokens(col(textCol))
    val spOrEmpty = coalesce(col("__sp"),
      array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
    val indexed = transform(toks, (t, i) => struct(t.as("t"), i.cast("long").as("i")))
    val kept = filter(indexed, p =>
      !exists(spOrEmpty, s =>
        p("i") >= s("span_start") && p("i") <= s("span_end")))
    docs.join(sp, Seq(idCol), "left")
      .select(col(idCol),
        array_join(transform(kept, p => p("t")), " ").as("kept_text"),
        size(toks).cast("long").as("n_tok"),
        (size(toks) - size(kept)).cast("long").as("n_removed"))
  }

  /** Winnowing fingerprints — the MOSS algorithm (Schleimer, Wilkerson &
    * Aiken 2003): hash every k-gram, slide a window of `window`
    * consecutive gram hashes, select each window's MINIMUM (ties to the
    * RIGHTMOST — the original paper's rule), and emit the distinct
    * selected (position, hash) pairs. Guarantees every shared substring
    * of ≥ window+k−1 tokens yields at least one matching fingerprint,
    * with ~2/(window+1) selection density — the positional, size-bounded
    * alternative to full k-gram sets for overlap detection.
    *
    * Determinism trick shared with the oracle: the comparison key packs
    * (40-bit gram hash, bit-inverted position) into one long
    * (`h40·2²⁰ + (2²⁰−1−pos)`), so a single windowed MIN realizes
    * min-by-hash-then-rightmost exactly — no argmin window, identical in
    * any engine. Positions are taken mod 2²⁰ (1M grams/document); a
    * 40-bit hash collision inside one window can only swap which equal
    * copy is selected — both sides of an oracle agree regardless.
    *
    * Plan: one positional shingle pass; the selection is a per-document
    * ROWS window (bounded by grams/doc); exchanges carry (doc, pos, key)
    * longs — text never shuffles. Documents shorter than one window
    * yield the single clipped window at position 0. */
  def winnowFingerprints(docs: DataFrame, k: Int = 4, window: Int = 5,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && window >= 1)
    val two40 = 1099511627776L
    val two20 = 1048576L
    val g = docs
      .select(col(idCol), posexplode(Text.shingles(col(textCol), k)).as(Seq("__pos", "__g")))
    val h40 = pmod(Seeds.portableHash64(col("__g")), lit(two40))
    val key = h40 * two20 + (lit(two20 - 1) - pmod(col("__pos").cast("long"), lit(two20)))
    val wd = Window.partitionBy(col(idCol))
    val win = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.currentRow, window - 1)
    g.select(col(idCol), col("__pos"), key.as("__k"))
      .withColumn("__n", count(lit(1)).over(wd))
      .withColumn("__sel", min(col("__k")).over(win))
      .filter(col("__pos") <= greatest(col("__n") - window, lit(0L)))
      .select(col(idCol),
        (lit(two20 - 1) - col("__sel").bitwiseAND(lit(two20 - 1))).as("fp_pos"),
        shiftright(col("__sel"), 20).as("fp_hash"))
      .distinct()
  }

  /** Blocked containment pairs — the asymmetric cousin of Jaccard:
    * `|A∩B| / |A|` flags documents whose shingle set is (mostly) contained
    * in another's, which Jaccard misses whenever the containing document
    * is much longer (excerpts, quotations, boilerplate-wrapped copies —
    * the dedup mode a Jaccard threshold cannot express). Emits ordered
    * (id_a < id_b) pairs with both directions' containment; a pair
    * qualifies when EITHER direction clears the threshold. Same
    * block-join scale contract as `blockedJaccardPairs`. */
  def blockedContainmentPairs(docs: DataFrame, blockCols: Seq[String],
                              id: String = "doc_id", text: String = "text",
                              shingleN: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sh = docs.select(
      (blockCols.map(col) :+ col(id).as("__id") :+
        array_distinct(Text.shingles(col(text), shingleN)).as("sh")): _*)
      .filter(size(col("sh")) > 0)
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    keyPairs(sh, "__id", blockCols, carry = Seq("sh"))
      .select(col("id_a"), col("id_b"),
        (inter / size(col("sh_a"))).as("cont_a_in_b"),
        (inter / size(col("sh_b"))).as("cont_b_in_a"))
      .filter(col("cont_a_in_b") >= threshold || col("cont_b_in_a") >= threshold)
  }
}
