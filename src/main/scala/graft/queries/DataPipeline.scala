package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.{Rand, Text, TextKernels}
import graft.operators.{Curation, Dedup, Drift, Eval, Linkage, Multimodal, Quantize, Similarity, Sketches}

/** LLM-training-data pipeline family over `documents` and `embeddings`:
  * text analysis, deduplication (exact / MinHash-LSH / SimHash / blocked
  * Jaccard), similarity search (brute-force + cell-partitioned ANN,
  * embedding near-dup), and multimodal payload plumbing.
  */
object DataPipeline {

  def defs: Seq[QueryDef] = Seq(
    q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40, q41, q58, q67, q79, q80,
    q82, q83, q84, q85, q86, q87, q88, q89, q90, q91, q92, q93, q94, q97, q98, q99,
    q102, q106, q108, q116, q117, q118, q118f, q119, q120, q125, q127, q139, q140, q141, q143,
    q145, q150, q153, q155, q161, q162, q164, q165, q166, q167, q168, q170, q171, q172,
    q173, q175, q177, q178, q179, q180, q181, q182, q183, q184, q185, q186, q187,
    q188, q189, q190, q192, q193, q194, q195, q196, q201, q202, q203, q204,
    q205, q206, q207, q208, q209)

  /** Dedup clusters from pairs: `Dedup.components` (iterative min-label
    * propagation) run over prefix-duplicate edges (the testdata has no
    * exact dups; shared 12-char prefixes give real multi-doc clusters),
    * where ground truth has a closed form — every digest group is one
    * clique, so the component representative must be the group's min
    * doc_id. Near-dup pairs (q36) feed the same operator in production. */
  val q67 = QueryDef(
    "q67_dedup_components",
    oracle = Some("""
      WITH g AS (SELECT doc_id, SUBSTRING(text, 1, 12) AS h FROM documents),
        d AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) > 1)
      SELECT doc_id AS id, MIN(doc_id) OVER (PARTITION BY g.h) AS component
      FROM g JOIN d USING (h)
      ORDER BY id""")) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 12).as("h"))
    val a = docs.select(col("h").as("ha"), col("doc_id").as("id_a"))
    val b = docs.select(col("h").as("hb"), col("doc_id").as("id_b"))
    val pairs = a.join(b, col("ha") === col("hb") && col("id_a") < col("id_b"))
    graft.operators.Dedup.components(pairs)
      .select(col("id"), col("component"))
      .orderBy("id")
  }

  // ---- text analysis ----

  /** Per-document token statistics (integer-count ratios: exact doubles). */
  val q30 = QueryDef(
    "q30_text_stats",
    oracle = Some(s"""
      SELECT doc_id,
        CAST(${Text.tokenCountSql("text")} AS INT) AS n_tokens,
        ${Text.typeTokenRatioSql("text")} AS ttr,
        ${Text.meanTokenLengthSql("text")} AS mean_tok_len
      FROM documents
      ORDER BY doc_id""")) { (s, dir) =>
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      Text.tokenCount(col("text")).as("n_tokens"),
      Text.typeTokenRatio(col("text")).as("ttr"),
      Text.meanTokenLength(col("text")).as("mean_tok_len"))
      .orderBy("doc_id")
  }

  /** Quality filter + per-language survivors (min/max are order-safe). */
  val q31 = QueryDef(
    "q31_quality_filter",
    oracle = Some(s"""
      SELECT lang, COUNT(*) AS n_kept,
        MIN(${Text.qualityScoreSql("text")}) AS min_score,
        MAX(${Text.qualityScoreSql("text")}) AS max_score
      FROM documents
      WHERE ${Text.qualityScoreSql("text")} >= 0.5
      GROUP BY lang
      ORDER BY lang""")) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .withColumn("q", Text.qualityScore(col("text")))
      .filter(col("q") >= 0.5)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        min("q").as("min_score"), max("q").as("max_score"))
      .orderBy("lang")
  }

  /** Language-ID confusion matrix: declared label × heuristic prediction. */
  val q32 = QueryDef(
    "q32_langid",
    oracle = Some(s"""
      SELECT lang, ${Text.langIdSql("text")} AS pred, COUNT(*) AS n
      FROM documents
      GROUP BY 1, 2
      ORDER BY lang, pred""")) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .groupBy(col("lang"), Text.langId(col("text")).as("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred")
  }

  /** Canonical fingerprint collision groups (reorder-invariant signature). */
  val q33 = QueryDef(
    "q33_fingerprint",
    oracle = Some(s"""
      SELECT ${Text.fingerprintSql("text")} AS fp,
        COUNT(*) AS n_docs, MIN(doc_id) AS rep_id
      FROM documents
      GROUP BY 1
      HAVING COUNT(*) > 1
      ORDER BY fp""")) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .groupBy(Text.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("rep_id"))
      .filter(col("n_docs") > 1)
      .orderBy("fp")
  }

  /** BPE-ish token budgeting over the corpus: the subword estimate
    * (⌈len/4⌉ per word + one per symbol — `Text.subwordEstimate`) against
    * the exact whitespace/regex word count, per source. Pure integer
    * arithmetic; the estimate:word ratio is the corpus' budget-planning
    * number. */
  val q80 = QueryDef(
    "q80_token_estimate",
    oracle = Some(s"""
      SELECT source,
        COUNT(*) AS n_docs,
        CAST(SUM(${Text.tokenCountSql("text")}) AS BIGINT) AS sum_words,
        CAST(SUM(${Text.subwordEstimateSql("text")}) AS BIGINT) AS sum_subwords,
        CAST(SUM(${Text.subwordEstimateSql("text")}) AS DOUBLE) /
          CAST(NULLIF(SUM(${Text.tokenCountSql("text")}), 0) AS DOUBLE) AS subwords_per_word
      FROM documents
      GROUP BY 1
      ORDER BY source""")) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col("text"))).as("sum_words"),
        sum(Text.subwordEstimate(col("text"))).as("sum_subwords"))
      .select(col("source"), col("n_docs"), col("sum_words"), col("sum_subwords"),
        // NULL ratio for an all-symbol source: double/0 diverges across
        // engines (Spark Infinity/NaN vs DuckDB NULL)
        (col("sum_subwords").cast("double") /
          when(col("sum_words") === 0, lit(null)).otherwise(col("sum_words")).cast("double"))
          .as("subwords_per_word"))
      .orderBy("source")
  }

  // ---- deduplication ----

  /** Exact dedup summary: content-digest groups (md5 matches DuckDB's). */
  val q34 = QueryDef(
    "q34_exact_dedup",
    oracle = Some("""
      SELECT COUNT(*) AS n_groups,
        CAST(SUM(c) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_docs
      FROM (SELECT md5(text) h, COUNT(*) c FROM documents GROUP BY 1)"""),
    bench = true) { (s, dir) =>
    Dedup.exactGroups(Tables.load(s, dir, "documents"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum("n_copies").as("n_docs"),
        sum(when(col("n_copies") > 1, col("n_copies")).otherwise(0L)).as("n_dup_docs"))
  }

  // distinct n-gram sets share one template (gramsAllSql) so the tokenizer
  // regex and slice arithmetic live in exactly one place — a tokenizer
  // change that misses a copy would silently diverge oracle from Spark
  private val shingleSql = s"list_distinct(${gramsAllSql(3)})"
  private val shingle2Sql = s"list_distinct(${gramsAllSql(2)})"

  /** Blocked exact-Jaccard near-dup pairs (block = language). Recall note:
    * blocking trades recall for cost — cross-language duplicates are
    * invisible by construction (the MinHash query below is unblocked). */
  val q35 = QueryDef(
    "q35_jaccard_blocked",
    oracle = Some(s"""
      WITH tok AS (SELECT doc_id, lang, $shingleSql sh FROM documents),
      p AS (
        SELECT a.doc_id id_a, b.doc_id id_b,
          len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh))) jac
        FROM tok a JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, jac FROM p WHERE jac >= 0.5
      ORDER BY id_a, id_b""")) { (s, dir) =>
    Dedup.blockedJaccardPairs(
      Tables.load(s, dir, "documents"), blockCols = Seq("lang"), threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  /** Distributed Gram matrix XᵀX over the embedding corpus
    * (`ml/Features.gramUpper`) — the scalable half of PCA / covariance /
    * normal equations: the corpus reduces map-side to d(d+1)/2 exact
    * decimal cells; the O(d³) eigen/solve step on the 64×64 result is a
    * driver problem, not a distributed one. Each product (exact in
    * double) rounds once to the 1e-9 grid and sums as exact decimal, so
    * the matrix is bit-identical across engines and partitionings. */
  val q150 = QueryDef(
    "q150_gram_matrix",
    oracle = Some(s"""
      WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
      c AS (
        SELECT a.i AS ii, b.i AS jj,
          SUM(CAST(${Compat.roundSql(
            "CAST(embedding[a.i] AS DOUBLE) * CAST(embedding[b.i] AS DOUBLE)",
            9)} AS DECIMAL(18,9))) AS g
        FROM embeddings CROSS JOIN idx a CROSS JOIN idx b
        WHERE b.i >= a.i
        GROUP BY 1, 2)
      SELECT CAST(ii - 1 AS INT) AS i, CAST(jj - 1 AS INT) AS j,
        ${Compat.exactDoubleSql("g")} AS g
      FROM c ORDER BY i, j""")) { (s, dir) =>
    graft.ml.Features.gramUpper(
        Tables.load(s, dir, "embeddings"), col("embedding"))
      .select(col("i"), col("j"), col("g").cast("double").as("g"))
      .orderBy("i", "j")
  }

  /** Prefix-filtered EXACT Jaccard join at 0.5, unblocked: the oracle is
    * the full all-pairs ground truth, so the hash-match PROVES the
    * prefix filter's recall is exactly 1 — the property that separates
    * it from LSH (q36) and language blocking (q35), which trade recall
    * for cost. `Dedup.prefixFilteredJaccardPairs` scaladoc carries the
    * contradiction proof and the scale contract. */
  val q145 = QueryDef(
    "q145_prefix_join",
    oracle = Some(s"""
      WITH tok AS (SELECT doc_id, $shingleSql sh FROM documents),
      p AS (
        SELECT a.doc_id id_a, b.doc_id id_b,
          len(list_intersect(a.sh, b.sh)) i,
          len(list_distinct(list_concat(a.sh, b.sh))) u
        FROM tok a JOIN tok b ON a.doc_id < b.doc_id)
      SELECT id_a, id_b, CAST(i AS DOUBLE) / u AS jac
      FROM p WHERE 2 * i >= u AND u > 0
      ORDER BY id_a, id_b""")) { (s, dir) =>
    Dedup.prefixFilteredJaccardPairs(
        Tables.load(s, dir, "documents"), thresholdNum = 1, thresholdDen = 2)
      .orderBy("id_a", "id_b")
  }

  /** MinHash-LSH near-duplicates, unblocked, exact-Jaccard-verified at
    * 0.9. Oracle is ground truth (all pairs); LSH with r=4,b=16 misses a
    * 0.9-pair w.p. 4e-8 — the hash-match asserts perfect recall here. */
  val q36 = QueryDef(
    "q36_minhash_lsh",
    oracle = Some(s"""
      WITH tok AS (SELECT doc_id, $shingleSql sh FROM documents),
      p AS (
        SELECT a.doc_id id_a, b.doc_id id_b,
          len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh))) jac
        FROM tok a JOIN tok b ON a.doc_id < b.doc_id)
      SELECT id_a, id_b, jac FROM p WHERE jac >= 0.9
      ORDER BY id_a, id_b"""),
    bench = true) { (s, dir) =>
    Dedup.minhashLshRun(
      Tables.load(s, dir, "documents"), k = 64, rowsPerBand = 4, threshold = 0.9)
      .pairs.orderBy("id_a", "id_b")
  }

  /** DuckDB mirror of the PORTABLE SimHash pair query: per-token md5
    * lower-64 bits re-derived from hex digits (instr alphabet — no hex
    * builtins needed), per-bit majority vote (ties set the bit, exactly
    * like `HashKernels.simhash64`), signature assembled as a signed BIGINT
    * (bit 63 contributes −2^63), then ground-truth ALL-PAIRS Hamming ≤
    * maxHamming. The Spark side prunes candidates with pigeonhole banding,
    * whose recall is exact — so hash-matching the unpruned oracle asserts
    * both signature parity and perfect recall. */
  private def simhashOracleSql(maxHamming: Int): String = {
    // hex digit k (0-based, most significant first) sits at md5-hex
    // position 17+k and carries bits 4*(15-k)+3 .. 4*(15-k)
    val digits = (0 until 16).map { k =>
      s"(instr('0123456789abcdef', substring(hx, ${17 + k}, 1)) - 1) AS d$k"
    }.mkString(", ")
    val sums = (0 until 64).map { b =>
      s"SUM((d${15 - b / 4} >> ${b % 4}) & 1) AS c$b"
    }.mkString(", ")
    val terms = (0 until 64).map { b =>
      val term = if (b == 63) "CAST(-9223372036854775808 AS BIGINT)" else s"${1L << b}"
      s"CASE WHEN 2 * c$b >= n THEN $term ELSE 0 END"
    }.mkString(" + ")
    s"""
      WITH tok AS (
        SELECT doc_id, unnest(${graft.functions.Text.tokensSql("text")}) AS t
        FROM documents),
      dig AS (
        SELECT doc_id, $digits FROM (SELECT doc_id, md5(t) AS hx FROM tok)),
      bits AS (SELECT doc_id, COUNT(*) AS n, $sums FROM dig GROUP BY doc_id),
      sig AS (SELECT doc_id, CAST($terms AS BIGINT) AS sig FROM bits)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS dist
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= $maxHamming
      ORDER BY id_a, id_b"""
  }

  /** SimHash near-dup pairs, portable-hash mode so the DuckDB oracle can
    * re-derive the exact signatures (md5 lower-64 token hashes). The
    * oracle is unbanded ground truth — the hash-match asserts the
    * pigeonhole banding's exact recall as well as signature parity. */
  val q37 = QueryDef(
    "q37_simhash",
    oracle = Some(simhashOracleSql(3)),
    bench = true) { (s, dir) =>
    Dedup.simhashRun(Tables.load(s, dir, "documents"), maxHamming = 3, portable = true)
      .pairs.orderBy("id_a", "id_b")
  }

  // ---- similarity search ----

  private val dotSql =
    "list_sum(list_transform(list_zip(a.embedding, q.embedding), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"
  private def normSql(t: String) =
    s"sqrt(list_sum(list_transform($t.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))"

  /** Brute-force cosine top-5 for 10 query vectors. Scores rounded to 1e-6
    * in the output (sum-order noise is ~1e-15); ranking uses raw scores. */
  val q38 = QueryDef(
    "q38_ann_bruteforce",
    oracle = Some(s"""
      WITH scored AS (
        SELECT q.vec_id AS qid, a.vec_id AS neighbor,
          $dotSql / (${normSql("a")} * ${normSql("q")}) AS c
        FROM embeddings a JOIN embeddings q
          ON q.vec_id < 10 AND a.vec_id <> q.vec_id),
      ranked AS (
        SELECT qid, neighbor, c,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, neighbor) AS INT) AS rnk
        FROM scored)
      SELECT qid, rnk, neighbor, ROUND(c, 6) AS cos6
      FROM ranked WHERE rnk <= 5
      ORDER BY qid, rnk"""),
    bench = true) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.bruteForceTopK(emb, queries, k = 5)
      .select(col("qid"), col("rnk"), col("neighbor"), round(col("cos"), 6).as("cos6"))
      .orderBy("qid", "rnk")
  }

  /** Cell-partitioned (IVF-style) top-3: each query scans only its own
    * cell — the 1/nCells-scan scale path (label = quantizer cell). */
  val q39 = QueryDef(
    "q39_ann_ivf",
    oracle = Some(s"""
      WITH scored AS (
        SELECT q.vec_id AS qid, a.vec_id AS neighbor,
          $dotSql / (${normSql("a")} * ${normSql("q")}) AS c
        FROM embeddings a JOIN embeddings q
          ON q.vec_id < 10 AND a.label = q.label AND a.vec_id <> q.vec_id),
      ranked AS (
        SELECT qid, neighbor, c,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, neighbor) AS INT) AS rnk
        FROM scored)
      SELECT qid, rnk, neighbor, ROUND(c, 6) AS cos6
      FROM ranked WHERE rnk <= 3
      ORDER BY qid, rnk""")) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"), col("label").as("qcell"))
    Similarity.cellTopK(emb, queries, k = 3, cell = "label", qcell = "qcell")
      .select(col("qid"), col("rnk"), col("neighbor"), round(col("cos"), 6).as("cos6"))
      .orderBy("qid", "rnk")
  }

  /** Embedding-cosine near-duplicate pairs within cells. */
  val q40 = QueryDef(
    "q40_embedding_dedup",
    oracle = Some(s"""
      WITH p AS (
        SELECT a.vec_id id_a, q.vec_id id_b,
          $dotSql / (${normSql("a")} * ${normSql("q")}) AS c
        FROM embeddings a JOIN embeddings q
          ON a.label = q.label AND a.vec_id < q.vec_id)
      SELECT id_a, id_b, ROUND(c, 6) AS cos6 FROM p WHERE c >= 0.4
      ORDER BY id_a, id_b""")) { (s, dir) =>
    // bucketed block grid (exact same pair set): 10 fixture labels would
    // otherwise bound the pair stage to 10 tasks — at sf10 that serialized
    // 2e9 cosine evaluations onto one core (SCALE.md round 8)
    Similarity.nearDupPairs(
      Tables.load(s, dir, "embeddings"), threshold = 0.4, cell = "label",
      buckets = 8, pairParallelism = 32)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos6"))
      .orderBy("id_a", "id_b")
  }

  /** Multi-probe IVF top-k: quantizer centroids (the q58 training step,
    * exact integer-grid means identical in both engines) pick each query's
    * nProbe nearest cells by centroid cosine; the search scans only those
    * cells. The oracle re-derives centroids, probe selection, and the
    * probed-cells ground truth in DuckDB — the hash match asserts the
    * probe policy end-to-end, not just the final ranking. Probe-selection
    * dots are summed in different orders across engines (±ulps); cells
    * are well-separated so the argmax never flips, and output scores use
    * the corpus pair dot like q38/q39. */
  val q79 = QueryDef(
    "q79_ann_multiprobe",
    oracle = Some(s"""
      WITH cent AS (
        SELECT label, CAST(pos AS INT) AS pos,
          CAST(SUM(${Compat.roundToLongSql("CAST(v AS DOUBLE) * 10000000.0")}) AS DOUBLE) / 10000000.0 / COUNT(*) AS c
        FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos
              FROM embeddings)
        GROUP BY 1, 2),
      qv AS (
        SELECT vec_id AS qid, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos,
          ${normSql("embeddings")} AS qnorm
        FROM embeddings WHERE vec_id < 10),
      qc AS (
        SELECT qid, cent.label,
          SUM(CAST(qv.v AS DOUBLE) * cent.c) /
            (ANY_VALUE(qv.qnorm) * sqrt(SUM(cent.c * cent.c))) AS ccos
        FROM qv JOIN cent ON qv.pos = cent.pos
        GROUP BY 1, 2),
      probes AS (
        SELECT qid, label FROM (
          SELECT qid, label,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ccos DESC, label) AS pr
          FROM qc) WHERE pr <= 2),
      scored AS (
        SELECT q.vec_id AS qid, a.vec_id AS neighbor,
          $dotSql / (${normSql("a")} * ${normSql("q")}) AS c
        FROM embeddings a
        JOIN embeddings q ON q.vec_id < 10 AND a.vec_id <> q.vec_id
        JOIN probes p ON p.qid = q.vec_id AND a.label = p.label),
      ranked AS (
        SELECT qid, neighbor, c,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, neighbor) AS INT) AS rnk
        FROM scored)
      SELECT qid, rnk, neighbor, ROUND(c, 6) AS cos6
      FROM ranked WHERE rnk <= 3
      ORDER BY qid, rnk""")) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    // quantizer output, driver-held (labels × dims scalars — q58's step)
    val cents: Map[Int, IndexedSeq[Double]] =
      Quantize.trainCentroids(emb, "label", "embedding")
    val probed = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .withColumn("probes", Similarity.probeCells(col("qvec"), cents, nProbe = 2))
    Similarity.multiProbeTopK(emb, probed, k = 3, cell = "label")
      .select(col("qid"), col("rnk"), col("neighbor"), round(col("cos"), 6).as("cos6"))
      .orderBy("qid", "rnk")
  }

  /** ANN recall evaluation: per query, how many of the exact top-3
    * (brute force, q38) the multi-probe IVF search (q79's nProbe=2
    * configuration) actually returned — the recall@k measurement that
    * tunes the probe-count dial. The oracle re-derives BOTH rankings and
    * the overlap; rankings are separation-robust (see q79/q86 notes). */
  val q93 = QueryDef(
    "q93_ann_recall",
    oracle = Some(s"""
      WITH cent AS (
        SELECT label, CAST(pos AS INT) AS pos,
          CAST(SUM(${Compat.roundToLongSql("CAST(v AS DOUBLE) * 10000000.0")}) AS DOUBLE) / 10000000.0 / COUNT(*) AS c
        FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos
              FROM embeddings)
        GROUP BY 1, 2),
      qv AS (
        SELECT vec_id AS qid, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos,
          ${normSql("embeddings")} AS qnorm
        FROM embeddings WHERE vec_id < 10),
      qc AS (
        SELECT qid, cent.label,
          SUM(CAST(qv.v AS DOUBLE) * cent.c) /
            (ANY_VALUE(qv.qnorm) * sqrt(SUM(cent.c * cent.c))) AS ccos
        FROM qv JOIN cent ON qv.pos = cent.pos
        GROUP BY 1, 2),
      probes AS (
        SELECT qid, label FROM (
          SELECT qid, label,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ccos DESC, label) AS pr
          FROM qc) WHERE pr <= 2),
      exact AS (
        SELECT qid, neighbor FROM (
          SELECT q.vec_id AS qid, a.vec_id AS neighbor,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id
              ORDER BY $dotSql / (${normSql("a")} * ${normSql("q")}) DESC, a.vec_id) AS rnk
          FROM embeddings a JOIN embeddings q
            ON q.vec_id < 10 AND a.vec_id <> q.vec_id)
        WHERE rnk <= 3),
      approx AS (
        SELECT qid, neighbor FROM (
          SELECT q.vec_id AS qid, a.vec_id AS neighbor,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id
              ORDER BY $dotSql / (${normSql("a")} * ${normSql("q")}) DESC, a.vec_id) AS rnk
          FROM embeddings a
          JOIN embeddings q ON q.vec_id < 10 AND a.vec_id <> q.vec_id
          JOIN probes p ON p.qid = q.vec_id AND a.label = p.label)
        WHERE rnk <= 3)
      SELECT e.qid AS qid, COUNT(x.neighbor) AS n_found
      FROM exact e LEFT JOIN approx x
        ON e.qid = x.qid AND e.neighbor = x.neighbor
      GROUP BY 1
      ORDER BY e.qid""")) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, queries, k = 3)
      .select(col("qid"), col("neighbor"))
    val cents = Quantize.trainCentroids(emb, "label", "embedding")
    val probed = queries
      .withColumn("probes", Similarity.probeCells(col("qvec"), cents, nProbe = 2))
    val approx = Similarity.multiProbeTopK(emb, probed, k = 3, cell = "label")
      .select(col("qid").as("xqid"), col("neighbor").as("xneighbor"), lit(1).as("__hit"))
    exact.join(approx,
        col("qid") === col("xqid") && col("neighbor") === col("xneighbor"), "left")
      .groupBy("qid")
      .agg(count(col("__hit")).as("n_found"))
      .orderBy("qid")
  }

  /** Per-cell embedding centroids — the IVF coarse-quantizer training step
    * (distributed vector mean), via the native `GridVectorMean` aggregate:
    * whole vectors reach the hash aggregate (no n×dim explode) and the
    * exchange carries one dim-long buffer per (partition, cell). The
    * oracle keeps the scalar unnest+sum formulation — the aggregate's
    * contract is bit-equality with exactly that integer-grid mean. */
  val q58 = QueryDef(
    "q58_embedding_centroids",
    oracle = Some(s"""
      SELECT label, CAST(pos AS INT) AS pos,
        CAST(SUM(${Compat.roundToLongSql("CAST(v AS DOUBLE) * 10000000.0")}) AS DOUBLE) / 10000000.0 / COUNT(*) AS centroid
      FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos
            FROM embeddings)
      GROUP BY 1, 2
      ORDER BY label, pos""")) { (s, dir) =>
    // components quantized to an exact 1e-7 integer grid before summing:
    // integer sums are order-free and both engines convert them to double
    // identically (decimal casts of raw float components are NOT
    // cross-engine reproducible — see Compat scaladoc)
    Tables.load(s, dir, "embeddings")
      .groupBy(col("label"))
      .agg(graft.functions.GridVectorMean.gridMeanVec(col("embedding")).as("__m"))
      .select(col("label"), posexplode(col("__m")).as(Seq("pos0", "centroid")))
      .select(col("label"), (col("pos0") + 1).as("pos"), col("centroid"))
      .orderBy("label", "pos")
  }

  // ---- curation: decontamination / boilerplate / repetition / sampling ----

  /** Non-distinct word n-gram list (DuckDB mirror of `Text.shingles`):
    * slice `[i:i+n-1]` is inclusive, so it spans n tokens. */
  private def gramsAllSql(n: Int) =
    s"list_transform(generate_series(1, len(${Text.tokensSql("text")})-${n - 1}), " +
      s"i -> array_to_string(${Text.tokensSql("text")}[i:i+${n - 1}], ' '))"

  /** Benchmark decontamination: per corpus document, distinct-3-gram
    * overlap against a held-out benchmark slice (doc_id ≡ 3 mod 17). The
    * benchmark shingle set broadcasts (benchmarks are tiny next to a
    * pretraining corpus); document text never shuffles — only partially
    * aggregated (doc_id, counts) pairs. `hit_frac` is an integer ratio:
    * exact in both engines. */
  val q82 = QueryDef(
    "q82_decontamination",
    oracle = Some(s"""
      WITH sh AS (
        SELECT doc_id, unnest($shingleSql) AS s
        FROM documents),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 17 = 3)
      SELECT doc_id, COUNT(*) AS n_shingles,
        CAST(SUM(CASE WHEN s IN (SELECT s FROM bench) THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        CAST(SUM(CASE WHEN s IN (SELECT s FROM bench) THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS hit_frac
      FROM sh WHERE doc_id % 17 <> 3
      GROUP BY doc_id
      ORDER BY doc_id"""),
    bench = true) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    Curation.contamination(
      corpus = docs.filter(col("doc_id") % 17 =!= 3),
      benchmark = docs.filter(col("doc_id") % 17 === 3), n = 3)
      .orderBy("doc_id")
  }

  /** Boilerplate mining: corpus-wide 2-gram document frequency (distinct
    * per doc), thresholded — one partially-aggregated exchange of
    * (shingle, count). */
  val q83 = QueryDef(
    "q83_boilerplate_ngrams",
    oracle = Some(s"""
      SELECT s AS shingle, COUNT(*) AS df
      FROM (SELECT doc_id, unnest($shingle2Sql) AS s FROM documents)
      GROUP BY 1
      HAVING COUNT(*) >= 20
      ORDER BY shingle""")) { (s, dir) =>
    Curation.documentFrequency(Tables.load(s, dir, "documents"), n = 2, minDf = 20L)
      .orderBy("shingle")
  }

  /** Within-document repetition (Gopher-style duplicate-2-gram fraction):
    * pure per-row column work — no exchange; integer counts and one exact
    * integer-ratio divide. */
  val q84 = QueryDef(
    "q84_repetition_stats",
    oracle = Some(s"""
      SELECT doc_id,
        CAST(len(${gramsAllSql(2)}) AS INT) AS n_grams,
        CAST(len(list_distinct(${gramsAllSql(2)})) AS INT) AS n_distinct,
        CASE WHEN len(${gramsAllSql(2)}) > 0
          THEN 1.0 - CAST(len(list_distinct(${gramsAllSql(2)})) AS DOUBLE) / len(${gramsAllSql(2)})
        END AS dup_frac
      FROM documents
      ORDER BY doc_id""")) { (s, dir) =>
    Curation.repetitionStats(Tables.load(s, dir, "documents"), n = 2)
      .orderBy("doc_id")
  }

  /** Target mixture over sources: even-indexed sources keep 80%,
    * odd-indexed 25%, src19 absent from the rate table (dropped). */
  private val mixtureRates: Map[String, Double] =
    (0 until 19).map(i => s"src$i" -> (if (i % 2 == 0) 0.8 else 0.25)).toMap

  /** Deterministic stratified mixture sampling: keep iff the portable
    * md5-uniform of doc_id falls under the source's target rate — a pure
    * map-side filter, stable under repartition/retry/re-run (the property
    * that makes mixture re-weighting reproducible across pipeline runs). */
  val q85 = QueryDef(
    "q85_mixture_sample",
    oracle = Some(s"""
      SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents
      WHERE ${Curation.stratifiedSampleSql(mixtureRates, "source", "doc_id")}
      GROUP BY source
      ORDER BY source""")) { (s, dir) =>
    Curation.stratifiedSample(Tables.load(s, dir, "documents"), mixtureRates, "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("sum_chars"))
      .orderBy("source")
  }

  /** Shared oracle CTEs: grid-exact label centroids + unnested embedding
    * components (the q58 training step re-derived in SQL). */
  private val centUnnSql = s"""
      cent AS (
        SELECT label, CAST(pos AS INT) AS pos,
          CAST(SUM(${Compat.roundToLongSql("CAST(v AS DOUBLE) * 10000000.0")}) AS DOUBLE) / 10000000.0 / COUNT(*) AS c
        FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos
              FROM embeddings)
        GROUP BY 1, 2),
      unn AS (
        SELECT vec_id, CAST(v AS DOUBLE) AS v, CAST(pos AS INT) AS pos
        FROM (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos
              FROM embeddings))"""

  /** Product-quantization encode: 4 subspaces × 16 dims, codewords = the
    * label centroids' slices; output is the (subspace, code) histogram.
    * Codebooks are plan literals (trained in one exchange, q58-style), so
    * encoding is map-side only. Distance sums are accumulated in different
    * orders across engines (±ulps); measured worst best-vs-second-best
    * relative margin is ~1.7e-5 (≫ ulp noise), so the argmin never flips. */
  val q86 = QueryDef(
    "q86_pq_codes",
    oracle = Some(s"""
      WITH $centUnnSql,
      qd AS (
        SELECT u.vec_id, CAST((u.pos - 1) // 16 AS INT) AS subspace, c.label,
          SUM((u.v - c.c) * (u.v - c.c)) AS d
        FROM unn u JOIN cent c ON u.pos = c.pos
        GROUP BY 1, 2, 3),
      asg AS (
        SELECT vec_id, subspace, label FROM (
          SELECT vec_id, subspace, label,
            ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY d, label) AS rn
          FROM qd) WHERE rn = 1)
      SELECT subspace, CAST(label AS INT) AS code, COUNT(*) AS n
      FROM asg GROUP BY 1, 2
      ORDER BY subspace, code""")) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val books = Quantize.sliceCodebooks(
      Quantize.trainCentroids(emb, "label", "embedding"), m = 4)
    emb.select(posexplode(Quantize.pqEncode(col("embedding"), books)).as(Seq("subspace", "code")))
      .groupBy("subspace", "code")
      .agg(count(lit(1)).as("n"))
      .orderBy("subspace", "code")
  }

  /** One Lloyd refinement step from the label-centroid initialization:
    * assign all vectors to the nearest centroid (map-side — centroids are
    * plan literals), recompute grid-exact means (one exchange). Updated
    * components are integer-grid means — exact in both engines; the
    * assignment argmin is separation-robust (see q86 note). */
  val q87 = QueryDef(
    "q87_kmeans_step",
    oracle = Some(s"""
      WITH $centUnnSql,
      qd AS (
        SELECT u.vec_id, c.label, SUM((u.v - c.c) * (u.v - c.c)) AS d
        FROM unn u JOIN cent c ON u.pos = c.pos
        GROUP BY 1, 2),
      asg AS (
        SELECT vec_id, label AS cluster FROM (
          SELECT vec_id, label,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, label) AS rn
          FROM qd) WHERE rn = 1)
      SELECT a.cluster, u.pos,
        CAST(SUM(${Compat.roundToLongSql("u.v * 10000000.0")}) AS DOUBLE) / 10000000.0 / COUNT(*) AS centroid,
        COUNT(*) AS n
      FROM unn u JOIN asg a USING (vec_id)
      GROUP BY 1, 2
      ORDER BY cluster, pos""")) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    Quantize.lloydStep(emb, Quantize.trainCentroids(emb, "label", "embedding"), "embedding")
      .orderBy("cluster", "pos")
  }

  /** PQ-ADC top-k search: corpus vectors are searched through their
    * 4-byte PQ code tuples only — per query, an m×k table of partial
    * squared distances (query slice vs codeword) is precomputed and the
    * score is m map lookups summed, so the full-precision corpus never
    * loads (the PQ memory/IO win). Scores are summed in subspace order on
    * both sides (Spark: fixed fold; DuckDB: `SUM(... ORDER BY ss)`), so
    * equal-code vectors get bit-equal scores within each engine and the
    * (score, neighbor) rank is deterministic; cross-engine score noise is
    * ±ulps against O(1) margins between distinct code tuples. */
  val q88 = QueryDef(
    "q88_pq_adc",
    bench = true,
    oracle = Some(s"""
      WITH $centUnnSql,
      qd AS (
        SELECT u.vec_id, CAST((u.pos - 1) // 16 AS INT) AS subspace, c.label,
          SUM((u.v - c.c) * (u.v - c.c)) AS d
        FROM unn u JOIN cent c ON u.pos = c.pos
        GROUP BY 1, 2, 3),
      asg AS (
        SELECT vec_id, subspace, label FROM (
          SELECT vec_id, subspace, label,
            ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY d, label) AS rn
          FROM qd) WHERE rn = 1),
      qpd AS (
        SELECT u.vec_id AS qid, CAST((u.pos - 1) // 16 AS INT) AS ss, c.label,
          SUM((u.v - c.c) * (u.v - c.c)) AS pd
        FROM unn u JOIN cent c ON u.pos = c.pos
        WHERE u.vec_id < 10
        GROUP BY 1, 2, 3),
      score AS (
        SELECT q.qid, a.vec_id AS neighbor, SUM(q.pd ORDER BY q.ss) AS d
        FROM asg a JOIN qpd q ON a.subspace = q.ss AND a.label = q.label
        WHERE a.vec_id <> q.qid
        GROUP BY 1, 2),
      ranked AS (
        SELECT qid, neighbor,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, neighbor) AS INT) AS rnk
        FROM score)
      SELECT qid, rnk, neighbor FROM ranked WHERE rnk <= 3
      ORDER BY qid, rnk""")) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.load(s, dir, "embeddings")
    val books = Quantize.sliceCodebooks(
      Quantize.trainCentroids(emb, "label", "embedding"), m = 4)
    val codes = emb.select(col("vec_id").as("neighbor"),
      Quantize.pqEncode(col("embedding"), books).as("codes"))
    val queries = emb.filter(col("vec_id") < 10).select("vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0),
        Quantize.adcTables(r.getSeq[Float](1).map(_.toDouble).toIndexedSeq, books)))
      .toSeq
    val sess = s
    import sess.implicits._
    val qdf = queries.toDF("qid", "luts")
    // top-3 via the bounded TopK aggregate, not a ranking window: the
    // window form shuffles EVERY (qid, neighbor, d) row to sort whole
    // per-query groups — |corpus| rows per query at scale, the
    // unsplittable-window-group straggler class — while the aggregate
    // keeps a 3-slot buffer per (task, qid) and partial-aggregates
    // map-side, so the exchange carries ≤ 3 rows per task per query.
    // Ordering is identical (key asc, ties id asc — TopKAggSpec pins the
    // window equivalence) and ADC distances are never NaN/null, so the
    // two forms are value-identical here.
    val scored = codes.join(broadcast(qdf), col("neighbor") =!= col("qid"))
      .withColumn("d", Quantize.adcScore(col("codes"), col("luts"), m = 4))
    graft.functions.TopK.perGroup(scored, Seq(col("qid")), col("d"), col("neighbor"), 3,
        largest = false)
      .select(col("qid"), col("rnk"), col("id").as("neighbor"))
      .orderBy("qid", "rnk")
  }

  /** Per-document top-3 TF-IDF terms (keyword extraction): tf·ln(N/df)
    * with the idf rounded at 1e-9 (libm parity), rank ties broken by term.
    * Exchanges carry (doc, term, count) rows only — text never shuffles. */
  val q89 = QueryDef(
    "q89_tfidf_topk",
    oracle = Some(s"""
      WITH tf AS (
        SELECT doc_id, t AS term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(${Text.tokensSql("text")}) AS t FROM documents)
        GROUP BY 1, 2),
      n AS (SELECT COUNT(*) AS n FROM documents),
      sc AS (
        SELECT doc_id, term,
          CAST(tf AS DOUBLE) *
            ROUND(ln(CAST(n.n AS DOUBLE) / (COUNT(*) OVER (PARTITION BY term))), 9) AS score
        FROM tf, n),
      r AS (
        SELECT doc_id, term, score,
          CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rnk
        FROM sc)
      SELECT doc_id, rnk, term, score FROM r WHERE rnk <= 3
      ORDER BY doc_id, rnk""")) { (s, dir) =>
    Curation.tfIdfTopK(Tables.load(s, dir, "documents"), k = 3)
      .orderBy("doc_id", "rnk")
  }

  /** Sequence packing (concat-and-chunk, 256-token budget, packed per
    * source in doc_id order): per (source, chunk) — documents starting in
    * the chunk and boundary-straddlers. Packing per group keeps the
    * window partitioned (no global sort); all values integer-exact.
    *
    * r3/r4 hash-mismatch root cause (VERDICT r4): DuckDB widens the
    * window SUM of BIGINT to HUGEINT, so `cum_before // 256` was HUGEINT
    * and reached the driver's comparator as float64 while Spark emitted
    * int64 — equal values, unequal hashes. Fixed by CASTing the oracle's
    * chunk_id back to BIGINT; values were always identical. */
  val q90 = QueryDef(
    "q90_sequence_packing",
    oracle = Some(s"""
      WITH t AS (
        SELECT source, doc_id, CAST(${Text.tokenCountSql("text")} AS BIGINT) AS n_tok
        FROM documents),
      c AS (
        SELECT source, doc_id, n_tok,
          COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM t)
      SELECT source, CAST(cum_before // 256 AS BIGINT) AS chunk_id,
        COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS tokens_started,
        CAST(SUM(CASE WHEN cum_before % 256 + n_tok > 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle
      FROM c
      GROUP BY 1, 2
      ORDER BY source, chunk_id, n_docs, tokens_started, n_straddle""")) { (s, dir) =>
    Curation.packSequences(Tables.load(s, dir, "documents"), budget = 256L)
      .groupBy(col("source"), col("chunk_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("tokens_started"),
        sum(col("straddles").cast("long")).as("n_straddle"))
      .orderBy("source", "chunk_id", "n_docs", "tokens_started", "n_straddle")
  }

  /** Representative selection after near-dup clustering: components from
    * shared-prefix edges (the q67 closed-form clique structure), each
    * component keeping its highest-quality member (ties → lowest doc_id).
    * The oracle recomputes components as prefix groups and the argmax
    * independently; the quality score is exact fixed-order IEEE
    * arithmetic, identical in both engines (as q31 relies on). */
  val q91 = QueryDef(
    "q91_dedup_representatives",
    oracle = Some(s"""
      WITH g AS (SELECT doc_id, SUBSTRING(text, 1, 12) AS h,
                   ${Text.qualityScoreSql("text")} AS q
                 FROM documents),
      d AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) > 1),
      m AS (SELECT g.doc_id, g.q, MIN(g.doc_id) OVER (PARTITION BY g.h) AS component,
              COUNT(*) OVER (PARTITION BY g.h) AS n_members,
              ROW_NUMBER() OVER (PARTITION BY g.h ORDER BY g.q DESC, g.doc_id) AS rn
            FROM g JOIN d USING (h))
      SELECT component, doc_id AS rep_id, CAST(n_members AS BIGINT) AS n_members,
        q AS rep_quality
      FROM m WHERE rn = 1
      ORDER BY component""")) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val withH = docs.select(col("doc_id"), substring(col("text"), 1, 12).as("h"),
      Text.qualityScore(col("text")).as("q"))
    // spanning-STAR edges (hub = min doc_id per duplicate group), not the
    // all-pairs clique self-join: each doc belongs to exactly one h group,
    // so star connectivity yields the identical components with k−1 edges
    // per k-member group instead of k(k−1)/2 — a boilerplate cluster of
    // 10⁶ docs is 10⁶ edges, not 5·10¹¹ pair rows (guide §3.3 explode-
    // before-join). q67 keeps the clique build: exercising components on
    // pair-shaped input IS that query's contract; here components is just
    // the cluster labeler. Oracle unchanged — hash-proven per SF.
    val hubs = withH.groupBy(col("h"))
      .agg(min(col("doc_id")).as("hub"), count(lit(1)).as("__k"))
      .filter(col("__k") > 1)
    val pairs = withH.join(hubs, Seq("h"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("id_a"), col("doc_id").as("id_b"))
    val comps = Dedup.components(pairs) // (id, component)
    // representative pick via the bounded TopK aggregate, not a pair of
    // component-partitioned windows (the q88/q165 pattern, guide §2.5):
    // a near-dup component is a boilerplate CLUSTER — corpus-scale at
    // 100 TB — and a window group can never split across tasks, while
    // the aggregate keeps a 1-slot buffer per (task, component) and
    // partial-aggregates map-side (n_members rides the same aggregate).
    // Ordering is identical (q desc, ties doc_id asc). q is NULL for a
    // 0-token text and TopK skips it, as the oracle's q DESC puts NULLs
    // last; a group with no scored member (empty texts share h = '')
    // keeps its lowest doc_id, the component label, with a NULL
    // rep_quality (`get`, unlike `getItem`, reads an empty array as NULL
    // under ANSI mode). Not `TopK.perGroup`: that drops a group with an
    // empty array, and n_members shares this aggregate.
    val top = get(col("__top"), lit(0))
    comps.join(withH, comps("id") === withH("doc_id"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        graft.functions.TopK.topK(col("q"), col("doc_id"), 1, largest = true).as("__top"))
      .select(col("component"), coalesce(top.getField("id"), col("component")).as("rep_id"),
        col("n_members"), top.getField("key").as("rep_quality"))
      .orderBy("component")
  }

  /** Containment near-dup pairs (blocked by language): |A∩B|/|A| and the
    * reverse — catches excerpt/quotation containment that a symmetric
    * Jaccard threshold misses when the containing document is much
    * longer. Integer-ratio containments are exact in both engines. */
  val q92 = QueryDef(
    "q92_containment_pairs",
    oracle = Some(s"""
      WITH tok AS (
        SELECT doc_id, lang, $shingleSql AS sh FROM documents
        WHERE len($shingleSql) > 0)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh) AS cont_a_in_b,
        len(list_intersect(a.sh, b.sh))::DOUBLE / len(b.sh) AS cont_b_in_a
      FROM tok a JOIN tok b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh) >= 0.5
         OR len(list_intersect(a.sh, b.sh))::DOUBLE / len(b.sh) >= 0.5
      ORDER BY id_a, id_b""")) { (s, dir) =>
    Dedup.blockedContainmentPairs(
      Tables.load(s, dir, "documents"), blockCols = Seq("lang"), threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  /** Per-source token-distribution entropy (mixture diagnostics: low
    * entropy flags template/boilerplate-dominated sources). Each
    * −p·ln p term is rounded at 1e-9 (libm parity; term·10⁹ ≈ 10⁸ puts
    * the tie window ~8 orders below the grid) and summed as an exact
    * decimal, so the aggregate is order-free in both engines; p itself
    * is an exact integer-ratio divide. */
  val q94 = QueryDef(
    "q94_source_entropy",
    oracle = Some(s"""
      WITH tf AS (
        SELECT source, t, COUNT(*) AS tf
        FROM (SELECT source, unnest(${Text.tokensSql("text")}) AS t FROM documents)
        GROUP BY 1, 2),
      tot AS (SELECT source, SUM(tf) AS total, COUNT(*) AS n_distinct FROM tf GROUP BY 1)
      SELECT tf.source,
        CAST(MAX(tot.total) AS BIGINT) AS n_tokens,
        CAST(MAX(tot.n_distinct) AS BIGINT) AS n_distinct,
        CAST(SUM(CAST(ROUND(-(CAST(tf.tf AS DOUBLE) / tot.total) *
          ln(CAST(tf.tf AS DOUBLE) / tot.total), 9) AS DECIMAL(18,9))) AS DOUBLE) AS entropy
      FROM tf JOIN tot USING (source)
      GROUP BY 1
      ORDER BY source""")) { (s, dir) =>
    val tf = Tables.load(s, dir, "documents")
      .select(col("source"), explode(Text.tokens(col("text"))).as("t"))
      .groupBy("source", "t")
      .agg(count(lit(1)).as("tf"))
    val tot = tf.groupBy("source")
      .agg(sum("tf").as("total"), count(lit(1)).as("n_distinct"))
    val p = col("tf").cast("double") / col("total").cast("double")
    tf.join(broadcast(tot), Seq("source"))
      .withColumn("term", round(-p * log(p), 9).cast("decimal(18,9)"))
      .groupBy("source")
      .agg(
        max("total").as("n_tokens"),
        max("n_distinct").as("n_distinct"),
        sum("term").cast("double").as("entropy"))
      .orderBy("source")
  }

  /** Okapi BM25 top-10 for a literal term query (`operators/Retrieval.bm25`):
    * the lexical-retrieval baseline next to the ANN stack. idf and per-term
    * scores round to 6 decimals before the order-free decimal sum (ln is
    * libm). Constants interpolate from the same Scala doubles on both
    * sides, so k1/b parse to bit-identical values. */
  val q97 = {
    val terms = Seq("spark", "merge", "window")
    val (k1, b) = (1.2, 0.75)
    val termList = terms.map(t => s"'$t'").mkString(", ")
    QueryDef(
      "q97_bm25",
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, unnest(${Text.tokensSql("text")}) AS t FROM documents),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sumdl FROM dl),
        tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM toks WHERE t IN ($termList) GROUP BY 1, 2),
        df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
        term AS (
          SELECT tf.doc_id,
            CAST(CAST(ROUND(ln((CAST(stats.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0), 6)
                 AS DECIMAL(18,6)) AS DOUBLE)
              * (tf.tf * ${k1 + 1}) /
                (tf.tf + $k1 * (${1 - b} + $b * dl.dl /
                  (CAST(stats.sumdl AS DOUBLE) / CAST(stats.n AS DOUBLE)))) AS s
          FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats)
        SELECT doc_id, CAST(SUM(CAST(ROUND(s, 6) AS DECIMAL(18,6))) AS DOUBLE) AS bm25
        FROM term GROUP BY 1
        ORDER BY bm25 DESC, doc_id
        LIMIT 10""")) { (s, dir) =>
      graft.operators.Retrieval
        .bm25(Tables.load(s, dir, "documents"), terms, k1, b)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(10)
    }
  }

  /** Unigram cross-entropy scoring (`Retrieval.unigramNll`): per-document
    * mean `-ln p(token)` under the corpus's own unigram distribution —
    * the cheapest perplexity proxy for quality filtering. */
  val q98 = QueryDef(
    "q98_unigram_nll",
    oracle = Some(s"""
      WITH toks AS (SELECT doc_id, unnest(${Text.tokensSql("text")}) AS t FROM documents),
      v AS (SELECT t, COUNT(*) AS cnt FROM toks GROUP BY 1),
      tot AS (SELECT SUM(cnt) AS total FROM v)
      SELECT toks.doc_id,
        COUNT(*) AS n_tok,
        CAST(SUM(CAST(ROUND(-ln(CAST(v.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE)), 9)
             AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS nll
      FROM toks JOIN v USING (t) CROSS JOIN tot
      GROUP BY 1
      ORDER BY doc_id""",
    ),
    bench = true) { (s, dir) =>
    graft.operators.Retrieval
      .unigramNll(Tables.load(s, dir, "documents"))
      .orderBy("doc_id")
  }

  /** PII scan + redaction (`Text.redactPii`): deterministic synthetic PII
    * (email / IPv4 / phone, keyed on doc_id) appended to real corpus rows,
    * then pattern counts on the original and the redacted length after the
    * sequential scrub. Patterns live in the RE2/Java common subset so both
    * engines match identically; pure map-side column work. */
  val q99 = QueryDef(
    "q99_pii_redact",
    oracle = Some(s"""
      WITH t AS (SELECT doc_id, text ||
        CASE WHEN doc_id % 4 = 0 THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com'
             WHEN doc_id % 4 = 1 THEN ' server 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 up'
             WHEN doc_id % 4 = 2 THEN ' call +1 555-0199 now'
             ELSE '' END AS t2
        FROM documents)
      SELECT doc_id,
        ${Text.piiEmailCountSql("t2")} AS n_email,
        ${Text.piiIpCountSql("t2")} AS n_ip,
        ${Text.piiPhoneCountSql("t2")} AS n_phone,
        len(${Text.redactPiiSql("t2")}) AS red_len
      FROM t
      ORDER BY doc_id""")) { (s, dir) =>
    val injected = Tables.load(s, dir, "documents")
      .withColumn("t2", concat(col("text"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit(" reach me at user"), col("doc_id").cast("string"), lit("@example.com")))
          .when(pmod(col("doc_id"), lit(4)) === 1,
            concat(lit(" server 10."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".0.1 up")))
          .when(pmod(col("doc_id"), lit(4)) === 2, lit(" call +1 555-0199 now"))
          .otherwise(lit(""))))
    injected.select(
      col("doc_id"),
      Text.piiEmailCount(col("t2")).cast("long").as("n_email"),
      Text.piiIpCount(col("t2")).cast("long").as("n_ip"),
      Text.piiPhoneCount(col("t2")).cast("long").as("n_phone"),
      length(Text.redactPii(col("t2"))).cast("long").as("red_len"))
      .orderBy("doc_id")
  }

  /** Deterministic weighted sampling (`Curation.weightedSample`, A-ES):
    * documents sampled ∝ n_chars with a reproducible md5-derived key —
    * the length-weighted variant of q85's stratified sampling. */
  val q102 = QueryDef(
    "q102_weighted_sample",
    oracle = Some(s"""
      SELECT doc_id, n_chars,
        ${Curation.weightedSampleKeySql("n_chars", "doc_id")} AS skey
      FROM documents
      ORDER BY skey, doc_id
      LIMIT 25""")) { (s, dir) =>
    Curation.weightedSample(Tables.load(s, dir, "documents"), 25, "n_chars")
      .select("doc_id", "n_chars", "skey")
  }

  /** Overlapping-window chunking (`Curation.chunkDocuments`): 32-token
    * windows, stride 16, portable md5 chunk hashes — chunk identity
    * hash-checked across engines. */
  val q106 = QueryDef(
    "q106_chunking",
    oracle = Some(s"""
      WITH toks AS (SELECT doc_id, ${Text.tokensSql("text")} AS t FROM documents),
      starts AS (
        SELECT doc_id, t,
          unnest(generate_series(1, greatest(len(t) - 31, 1), 16)) AS s
        FROM toks WHERE len(t) > 0)
      SELECT doc_id, CAST((s - 1) / 16 AS BIGINT) AS chunk_idx,
        len(t[s : s + 31]) AS n_tok,
        md5(array_to_string(t[s : s + 31], ' ')) AS chunk_hash
      FROM starts
      ORDER BY doc_id, chunk_idx""")) { (s, dir) =>
    Curation.chunkDocuments(Tables.load(s, dir, "documents"), window = 32, stride = 16)
      .orderBy("doc_id", "chunk_idx")
  }

  /** Hashing-trick featurization (`ml/Features.hashedFeatures`): sparse
    * (doc, dim, tf) features from the portable 16-bit token hash — the
    * no-vocabulary featurizer feeding `ml/Trainer`. Engine-reproducible,
    * so the DuckDB oracle re-derives every feature index. */
  val q108 = QueryDef(
    "q108_hashed_features",
    oracle = Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest(${Text.tokensSql("text")}) AS t FROM documents)
      SELECT doc_id, ${graft.ml.Features.dimSql("t", 64)} AS dim, COUNT(*) AS tf
      FROM tok
      GROUP BY 1, 2
      ORDER BY doc_id, dim""")) { (s, dir) =>
    graft.ml.Features
      .hashedFeatures(Tables.load(s, dir, "documents"), dims = 64)
      .orderBy("doc_id", "dim")
  }

  /** Cross-source duplicate-leakage matrix: for every duplicate group
    * (q67's 12-char-prefix identity), the pair count spanning each source
    * pair — the "is my eval set leaking into training sources" accounting.
    * Pure combinatorics on per-(group, source) counts: n_a x n_b pairs,
    * never materializing the pairs themselves. */
  val q116 = QueryDef(
    "q116_leakage_matrix",
    oracle = Some("""
      WITH g AS (SELECT SUBSTRING(text, 1, 12) AS h, source FROM documents),
      c AS (SELECT h, source, COUNT(*) AS n FROM g GROUP BY 1, 2),
      p AS (SELECT a.source AS src_a, b.source AS src_b, a.n * b.n AS npairs
            FROM c a JOIN c b ON a.h = b.h AND a.source < b.source)
      SELECT src_a, src_b, CAST(SUM(npairs) AS BIGINT) AS n_pairs
      FROM p GROUP BY 1, 2
      ORDER BY src_a, src_b""")) { (s, dir) =>
    val c = Tables.load(s, dir, "documents")
      .select(substring(col("text"), 1, 12).as("h"), col("source"))
      .groupBy("h", "source").agg(count(lit(1)).as("n"))
    val a = c.select(col("h"), col("source").as("src_a"), col("n").as("na"))
    val b = c.select(col("h"), col("source").as("src_b"), col("n").as("nb"))
    a.join(b, a("h") === b("h") && col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum(col("na") * col("nb")).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  /** Gopher/C4-style rule accounting: per-rule failure counts over the
    * corpus (the dashboard view a curation run reports before filtering).
    * Every rule is an exact integer-ratio or IEEE comparison — no
    * rounding anywhere. */
  val q117 = QueryDef(
    "q117_quality_rules",
    oracle = Some(s"""
      WITH d AS (
        SELECT ${Text.tokenCountSql("text")} AS n_tok,
          ${Text.meanTokenLengthSql("text")} AS mtl,
          ${Text.qualityScoreSql("text")} AS q,
          CASE WHEN len(${gramsAllSql(2)}) > 0
            THEN 1.0 - CAST(len(list_distinct(${gramsAllSql(2)})) AS DOUBLE) / len(${gramsAllSql(2)})
          END AS dup_frac
        FROM documents)
      SELECT COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN n_tok < 20 THEN 1 ELSE 0 END) AS BIGINT) AS fail_short,
        CAST(SUM(CASE WHEN mtl > 8 THEN 1 ELSE 0 END) AS BIGINT) AS fail_long_words,
        CAST(SUM(CASE WHEN dup_frac > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS fail_repetition,
        CAST(SUM(CASE WHEN q < 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS fail_low_quality,
        CAST(SUM(CASE WHEN n_tok >= 20 AND NOT (mtl > 8)
          AND NOT (dup_frac > 0.2) AND NOT (q < 0.4) THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      FROM d""")) { (s, dir) =>
    val t = col("text")
    val grams = Text.shingles(t, 2)
    val d = Tables.load(s, dir, "documents").select(
      Text.tokenCount(t).as("n_tok"),
      Text.meanTokenLength(t).as("mtl"),
      Text.qualityScore(t).as("q"),
      when(size(grams) > 0,
        lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams).cast("double"))
        .as("dup_frac"))
    d.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("n_tok") < 20, 1L).otherwise(0L)).as("fail_short"),
      sum(when(col("mtl") > 8, 1L).otherwise(0L)).as("fail_long_words"),
      sum(when(col("dup_frac") > 0.2, 1L).otherwise(0L)).as("fail_repetition"),
      sum(when(col("q") < 0.4, 1L).otherwise(0L)).as("fail_low_quality"),
      sum(when(col("n_tok") >= 20 && !(col("mtl") > 8) &&
        !(col("dup_frac") > 0.2) && !(col("q") < 0.4), 1L).otherwise(0L)).as("n_pass"))
  }

  // ---- multimodal ----

  /** Binary payload plumbing: text → payload bytes + synthetic media
    * metadata, per-source byte accounting and digest dedup — the schema/
    * partition shape of a real media table with the codec stubbed out. */
  val q41 = QueryDef(
    "q41_multimodal_meta",
    oracle = Some("""
      SELECT source,
        COUNT(*) AS n_media,
        CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
        COUNT(DISTINCT md5(text)) AS n_distinct_payload,
        CAST(SUM((n_chars % 640) + 1) AS BIGINT) AS sum_width
      FROM documents
      GROUP BY source
      ORDER BY source""")) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
      .withColumn("payload", Multimodal.asPayload(col("text"), lit("text/plain")))
      .withColumn("meta", Multimodal.syntheticMeta(col("n_chars"), lit("text/plain")))
      .withColumn("stats", Multimodal.payloadStats(col("payload")))
    docs.groupBy("source")
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("stats.n_bytes")).as("total_bytes"),
        countDistinct(col("stats.content_digest")).as("n_distinct_payload"),
        sum(col("meta.width").cast("long")).as("sum_width"))
      .orderBy("source")
  }

  // ---- sketches ----

  /** KMV distinct-count sketch vs exact: per order priority, estimate
    * distinct customers from the k=128 smallest distinct portable hashes
    * (O(k) aggregation state — the 100 TB COUNT DISTINCT without the
    * distinct shuffle) next to the true count. The oracle re-derives the
    * identical sketch; the estimator is pure IEEE `+ / cast` arithmetic,
    * so the estimate hash-matches bit-for-bit. */
  val q118 = QueryDef(
    "q118_kmv_distinct",
    oracle = Some(s"""
      WITH s AS (
        SELECT o_orderpriority AS priority,
          ${Sketches.signed64FromHexSql("md5(CAST(o_custkey AS VARCHAR))")} AS h
        FROM orders),
      d AS (
        SELECT priority, list_sort(list(DISTINCT h)) AS hs, COUNT(DISTINCT h) AS nd
        FROM s GROUP BY priority),
      x AS (
        SELECT o_orderpriority AS priority,
          COUNT(DISTINCT o_custkey) AS exact_distinct
        FROM orders GROUP BY 1)
      SELECT d.priority, exact_distinct,
        ${Sketches.kmvEstimateSql("hs", "nd", 128)} AS est_distinct
      FROM d JOIN x USING (priority)
      ORDER BY priority""")) { (s, dir) =>
    val orders = Tables.load(s, dir, "orders")
    orders.groupBy(col("o_orderpriority").as("priority"))
      .agg(
        Sketches.kmvSketch(col("o_custkey"), k = 128).as("kmv"),
        countDistinct(col("o_custkey")).as("exact_distinct"))
      .select(col("priority"), col("exact_distinct"),
        Sketches.kmvEstimate(col("kmv"), k = 128).as("est_distinct"))
      .orderBy("priority")
  }

  /** Production-kernel twin of q118 (`Sketches.kmvSketchFast`): same
    * sketch/estimator, xxhash64 instead of the md5 oracle hash. The sf10
    * rehearsal put q118's 40.7× scaling at the md5 kernel — the scan is
    * hash-bound — so the HEADLINE BENCH times this kernel (the one a
    * 100 TB run would use) while q118 keeps the DuckDB-re-derivable md5
    * row as the correctness contract. No oracle by design: DuckDB has no
    * xxhash64; the driver records a rows-only check, and the estimator's
    * accuracy contract is pinned in `SketchesSpec` (same buffer, same
    * estimator, hash-agnostic uniformity). */
  val q118f = QueryDef(
    "q118f_kmv_fast",
    bench = true,
    oracle = None) { (s, dir) =>
    val orders = Tables.load(s, dir, "orders")
    orders.groupBy(col("o_orderpriority").as("priority"))
      .agg(
        Sketches.kmvSketchFast(col("o_custkey"), k = 128).as("kmv"),
        countDistinct(col("o_custkey")).as("exact_distinct"))
      .select(col("priority"), col("exact_distinct"),
        Sketches.kmvEstimate(col("kmv"), k = 128).as("est_distinct"))
      .orderBy("priority")
  }

  /** Count-min frequency sketch vs exact: build a 4×256 counter grid over
    * lineitem suppliers (map-side-combined — a 100 TB scan exchanges
    * kilobytes), then point-estimate ten probe suppliers. CMS never
    * underestimates; the oracle rebuilds the identical grid from the same
    * salted portable hashes, so estimates match exactly. */
  val q119 = QueryDef(
    "q119_cms_heavy",
    oracle = Some(s"""
      WITH arms AS (SELECT unnest([0, 1, 2, 3]) AS row_idx),
      cells AS (
        SELECT row_idx,
          ((${Sketches.signed64FromHexSql("md5('cms' || row_idx || '|' || CAST(l_suppkey AS VARCHAR))")} % 256) + 256) % 256 AS col_idx,
          CAST(COUNT(*) AS BIGINT) AS counter
        FROM lineitem CROSS JOIN arms
        GROUP BY 1, 2),
      probes AS (
        SELECT s_suppkey AS probe, row_idx,
          ((${Sketches.signed64FromHexSql("md5('cms' || row_idx || '|' || CAST(s_suppkey AS VARCHAR))")} % 256) + 256) % 256 AS col_idx
        FROM supplier CROSS JOIN arms
        WHERE s_suppkey <= 10),
      est AS (
        SELECT probe, MIN(COALESCE(counter, 0)) AS est
        FROM probes LEFT JOIN cells USING (row_idx, col_idx)
        GROUP BY probe),
      x AS (
        SELECT l_suppkey AS probe, CAST(COUNT(*) AS BIGINT) AS exact_count
        FROM lineitem WHERE l_suppkey <= 10 GROUP BY 1)
      SELECT probe, exact_count, est AS est_count
      FROM est JOIN x USING (probe)
      ORDER BY probe""")) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
    val sketch = Sketches.cmsSketch(li, col("l_suppkey"), d = 4, w = 256)
    val probes = Tables.load(s, dir, "supplier")
      .filter(col("s_suppkey") <= 10).select(col("s_suppkey").as("probe"))
    val exact = li.filter(col("l_suppkey") <= 10)
      .groupBy(col("l_suppkey").as("probe"))
      .agg(count(lit(1)).as("exact_count"))
    Sketches.cmsEstimate(sketch, probes, d = 4, w = 256)
      .withColumnRenamed("est", "est_count")
      .join(exact, Seq("probe"))
      .select(col("probe"), col("exact_count"), col("est_count"))
      .orderBy("probe")
  }

  /** HyperLogLog distinct-count sketch vs exact: m=256 registers per
    * order priority over custkeys. The register grid is O(m) state per
    * group with full map-side partial aggregation — at billions of
    * distinct keys (where KMV's accuracy-per-byte loses) a 100 TB scan
    * still exchanges ≤ 256 small ints per (partition, group). The oracle
    * rebuilds the identical registers from the same portable hashes and
    * the estimate is one IEEE division of exact-decimal operands, so the
    * sketch matches bit-for-bit with no tolerance. */
  // shared q139/q153 oracle prefix: portable per-priority HLL registers
  // over orders custkeys + the exact-decimal estimator denominator — one
  // definition so a sketch-SQL fix cannot drift between the two queries
  private def hllOrdersCtes: String = {
    val h = Sketches.signed64FromHexSql("md5(CAST(o_custkey AS VARCHAR))")
    val h2 = Sketches.signed64FromHexSql("md5('hll|' || CAST(o_custkey AS VARCHAR))")
    s"""s0 AS (
        SELECT o_orderpriority AS priority, $h AS h, $h2 AS h2
        FROM orders),
      s AS (
        SELECT priority, ((h % 256) + 256) % 256 AS bucket,
          ${Sketches.hllRhoSql("h2")} AS rho
        FROM s0),
      regs AS (
        SELECT priority, bucket, MAX(rho) AS register FROM s GROUP BY 1, 2),
      den AS (
        SELECT priority,
          SUM(${Sketches.hllTermSql("register")})
            + (256 - COUNT(*)) * CAST(18446744073709551616 AS DECIMAL(38,0)) AS s_den
        FROM regs GROUP BY 1)"""
  }

  val q139 = QueryDef(
    "q139_hll_distinct",
    oracle = Some(s"""
      WITH $hllOrdersCtes,
      x AS (
        SELECT o_orderpriority AS priority,
          COUNT(DISTINCT o_custkey) AS exact_distinct
        FROM orders GROUP BY 1)
      SELECT priority, exact_distinct,
        ${Sketches.hllEstimateSql("s_den", 256)} AS est_distinct
      FROM den JOIN x USING (priority)
      ORDER BY priority""")) { (s, dir) =>
    val base = Tables.load(s, dir, "orders")
      .select(col("o_orderpriority").as("priority"), col("o_custkey"))
    val est = Sketches.hllEstimate(
      Sketches.hllSketch(base, col("o_custkey"), Seq("priority"), m = 256),
      Seq("priority"), m = 256)
    val exact = base.groupBy("priority")
      .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
    exact.join(est, Seq("priority"))
      .select(col("priority"), col("exact_distinct"), col("est_distinct"))
      .orderBy("priority")
  }

  /** Leave-one-out target encoding (`ml/Features.targetEncodeLoo`):
    * order priority encoded as the mean total price of the OTHER orders
    * sharing the priority — the leakage-safe mean encoding. Σ−y is exact
    * decimal; the single /(n−1) is IEEE — no tolerance. */
  val q161 = QueryDef(
    "q161_target_encoding",
    oracle = Some("""
      WITH g AS (
        SELECT o_orderpriority AS p,
          SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS s, COUNT(*) AS c
        FROM orders GROUP BY 1)
      SELECT o_orderkey,
        CASE WHEN c > 1 THEN
          CAST(s - CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) / (c - 1)
        END AS loo_encoding
      FROM orders JOIN g ON o_orderpriority = g.p
      ORDER BY o_orderkey""")) { (s, dir) =>
    graft.ml.Features.targetEncodeLoo(
        Tables.load(s, dir, "orders"), "o_orderpriority", col("o_totalprice"))
      .select(col("o_orderkey"), col("loo_encoding"))
      .orderBy("o_orderkey")
  }

  /** Chi-square independence screen (`Drift.chiSquare`): is a document's
    * source independent of its language? The contingency-table companion
    * to PSI/KS (q143) — the full |A|×|B| grid including unobserved
    * cells (each still contributes E), per-cell terms rounded then
    * decimal-summed (q94 idiom, order-free). */
  val q164 = QueryDef(
    "q164_chi_square",
    oracle = Some("""
      WITH cells AS (
        SELECT source, lang, COUNT(*) AS o FROM documents
        WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
      rt AS (SELECT source, SUM(o) AS ra FROM cells GROUP BY 1),
      ct AS (SELECT lang, SUM(o) AS cb FROM cells GROUP BY 1),
      t AS (SELECT SUM(o) AS n, COUNT(DISTINCT source) AS ka,
              COUNT(DISTINCT lang) AS kb FROM cells),
      grid AS (
        SELECT rt.source, ct.lang, rt.ra, ct.cb,
          COALESCE(cells.o, 0) AS o
        FROM rt CROSS JOIN ct
        LEFT JOIN cells USING (source, lang)),
      terms AS (
        SELECT CAST(ROUND(
            (CAST(o AS DOUBLE) - CAST(ra * cb AS DOUBLE) / n)
            * (CAST(o AS DOUBLE) - CAST(ra * cb AS DOUBLE) / n)
            / (CAST(ra * cb AS DOUBLE) / n), 9) AS DECIMAL(18,9)) AS term
        FROM grid CROSS JOIN t)
      SELECT CAST(SUM(term) AS DOUBLE) AS chi2,
        CAST((MAX(ka) - 1) * (MAX(kb) - 1) AS BIGINT) AS dof,
        CAST(MAX(n) AS BIGINT) AS n
      FROM terms CROSS JOIN t""")) { (s, dir) =>
    Drift.chiSquare(Tables.load(s, dir, "documents"),
      col("source"), col("lang"))
  }

  /** Quantile transform (percent_rank feature scaling): each order's
    * price maps to its within-priority rank fraction (rank−1)/(n−1) —
    * the outlier-proof normalization (uniform marginals regardless of
    * the raw distribution). Ties share a rank, so no tie-break column
    * is needed; the fraction is one division of exact longs.
    *
    * The Spark side is `Features.quantileTransform` — the range-bucketed
    * distinct-value form that never ships a group through one task —
    * hash-matched against the oracle's plain PERCENT_RANK window: the
    * driver-level proof that the scale path is bit-equal to the window
    * it replaces (`FeaturesSpec` pins the same equivalence in-engine). */
  val q162 = QueryDef(
    "q162_quantile_transform",
    oracle = Some("""
      SELECT o_orderkey,
        PERCENT_RANK() OVER (PARTITION BY o_orderpriority
          ORDER BY o_totalprice) AS q
      FROM orders ORDER BY o_orderkey""")) { (s, dir) =>
    graft.ml.Features.quantileTransform(
        Tables.load(s, dir, "orders"), "o_orderpriority", "o_totalprice")
      .select(col("o_orderkey"), col("q"))
      .orderBy("o_orderkey")
  }

  /** Sparse TF-cosine similarity join (`Similarity.sparseCosinePairs`):
    * the inverted-index pair join over token postings — near-dup
    * detection with NO embedding model, the sparse complement of
    * q38-q40. Dots are exact longs, norms per-row sqrt: cosine is
    * bit-deterministic without any rounding idiom. */
  val q155 = QueryDef(
    "q155_sparse_cosine",
    oracle = Some(s"""
      WITH tf AS (
        SELECT doc_id, t, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(${Text.tokensSql("text")}) AS t FROM documents)
        GROUP BY 1, 2),
      n AS (SELECT doc_id, sqrt(CAST(SUM(tf*tf) AS DOUBLE)) AS nrm FROM tf GROUP BY 1),
      d AS (
        SELECT a.doc_id ia, b.doc_id ib, SUM(a.tf * b.tf) AS dot
        FROM tf a JOIN tf b ON a.t = b.t AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT ia AS id_a, ib AS id_b,
        CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cos
      FROM d JOIN n na ON d.ia = na.doc_id JOIN n nb ON d.ib = nb.doc_id
      WHERE CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) >= 0.95
      ORDER BY id_a, id_b""")) { (s, dir) =>
    Similarity.sparseCosinePairs(Tables.load(s, dir, "documents"))
      .orderBy("id_a", "id_b")
  }

  /** HLL merge law, oracled end-to-end: per-priority sketches built from
    * DISJOINT halves of orders (custkey parity) merge via
    * union→max-register, and the merged estimate hash-matches the
    * ORACLE'S single-pass sketch over all orders — the rollup property
    * that lets per-file/per-day sketches fold into corpus cardinality
    * without rescanning (q60 proves the same law for histograms). */
  val q153 = QueryDef(
    "q153_hll_merge",
    oracle = Some(s"""
      WITH $hllOrdersCtes
      SELECT priority, ${Sketches.hllEstimateSql("s_den", 256)} AS est_distinct
      FROM den ORDER BY priority""")) { (s, dir) =>
    val base = Tables.load(s, dir, "orders")
      .select(col("o_orderpriority").as("priority"), col("o_custkey"))
    def half(parity: Int) = Sketches.hllSketch(
      base.filter(pmod(col("o_custkey"), lit(2L)) === parity),
      col("o_custkey"), Seq("priority"), m = 256)
    Sketches.hllEstimate(
        Sketches.hllMerge(half(0), half(1), Seq("priority")),
        Seq("priority"), m = 256)
      .orderBy("priority")
  }

  /** Blocked edit-distance record linkage: part names with a
    * deterministic injected typo (char 3 deleted — OCR-noise stand-in)
    * fuzzy-join back to the clean catalog. Block on the last name token
    * (untouched by the typo), verify with `levenshtein <= 2` inside
    * blocks only — the equi-join formulation of a predicate that would
    * otherwise be a cartesian BroadcastNestedLoopJoin. Best match per
    * dirty row via the map-side `min(struct(dist, id))` argmin. */
  val q140 = QueryDef(
    "q140_fuzzy_join",
    oracle = Some("""
      WITH dirty AS (
        SELECT p_partkey AS dirty_id,
          substring(p_name, 1, 2) || substring(p_name, 4) AS dirty_name
        FROM part),
      db AS (
        SELECT dirty_id, dirty_name,
          str_split(dirty_name, ' ')[-1] AS block FROM dirty),
      clean AS (
        SELECT p_partkey, p_name, str_split(p_name, ' ')[-1] AS block FROM part),
      cand AS (
        SELECT dirty_id, p_partkey, levenshtein(dirty_name, p_name) AS distance
        FROM db JOIN clean USING (block)
        WHERE levenshtein(dirty_name, p_name) <= 2),
      best AS (
        SELECT dirty_id, distance, p_partkey,
          ROW_NUMBER() OVER (PARTITION BY dirty_id
            ORDER BY distance, p_partkey) AS rn
        FROM cand)
      SELECT dirty_id, distance, p_partkey
      FROM best WHERE rn = 1 ORDER BY dirty_id""")) { (s, dir) =>
    val part = Tables.load(s, dir, "part")
    val dirty = part.select(col("p_partkey").as("dirty_id"),
      concat(substring(col("p_name"), 1, 2), expr("substring(p_name, 4)"))
        .as("dirty_name"))
    Linkage.bestFuzzyMatch(dirty, part, "dirty_id", "dirty_name",
        "p_partkey", "p_name", t => element_at(split(t, " "), -1), maxDist = 2,
        verifyParallelism = s.sparkContext.defaultParallelism)
      .orderBy("dirty_id")
  }

  /** Unicode NFC canonicalization via the native `graft_nfc` kernel:
    * decompose part names (combining acute U+0301 injected after every
    * 'e' — the two-codepoint form of 'é'), then NFC-compose back. The
    * oracle is DuckDB's `nfc_normalize`, so the hash-match pins
    * java.text.Normalizer against an independent Unicode implementation
    * — the canonicalization that makes hash dedup / fingerprinting see
    * both encodings of a character as the same document. */
  val q141 = QueryDef(
    "q141_unicode_norm",
    oracle = Some("""
      WITH d AS (
        SELECT p_partkey, replace(p_name, 'e', 'e' || chr(769)) AS decomposed
        FROM part)
      SELECT p_partkey, length(decomposed) AS len_decomposed,
        nfc_normalize(decomposed) AS norm_name,
        length(nfc_normalize(decomposed)) AS len_normalized
      FROM d ORDER BY p_partkey""")) { (s, dir) =>
    Tables.load(s, dir, "part")
      .select(col("p_partkey"),
        regexp_replace(col("p_name"), "e", "e" + "\u0301").as("decomposed"))
      .select(col("p_partkey"),
        length(col("decomposed")).as("len_decomposed"),
        TextKernels.nfcCol(col("decomposed")).as("norm_name"))
      .withColumn("len_normalized", length(col("norm_name")))
      .orderBy("p_partkey")
  }

  /** Distribution drift of src0 documents vs the rest of the corpus:
    * PSI over length bins (libm terms rounded-then-decimal-summed, the
    * q94 idiom) and the EXACT two-sample KS statistic (integer
    * cross-multiplied ECDFs, one IEEE division — no tolerance anywhere).
    * The pre-training data-quality gate that catches a silently changed
    * upstream source before it trains into a model. */
  val q143 = QueryDef(
    "q143_psi_drift",
    oracle = Some("""
      WITH b AS (
        SELECT n_chars // 100 AS bin, COUNT(*) AS c1
        FROM documents WHERE source = 'src0' GROUP BY 1),
      c AS (
        SELECT n_chars // 100 AS bin, COUNT(*) AS c2
        FROM documents WHERE source <> 'src0' GROUP BY 1),
      j AS (
        SELECT COALESCE(b.bin, c.bin) AS bin, c1, c2
        FROM b FULL JOIN c ON b.bin = c.bin),
      t AS (
        SELECT SUM(COALESCE(c1, 0)) AS n1, SUM(COALESCE(c2, 0)) AS n2 FROM j),
      psi AS (
        SELECT
          CAST(SUM(CASE WHEN c1 IS NOT NULL AND c2 IS NOT NULL THEN
            CAST(ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
              * ln((CAST(c1 AS DOUBLE) / n1) / (CAST(c2 AS DOUBLE) / n2)), 9)
              AS DECIMAL(18,9)) END) AS DOUBLE) AS psi,
          CAST(COALESCE(SUM(CASE WHEN c2 IS NULL THEN c1 END), 0) AS BIGINT)
            AS base_only_rows,
          CAST(COALESCE(SUM(CASE WHEN c1 IS NULL THEN c2 END), 0) AS BIGINT)
            AS cand_only_rows,
          COUNT(CASE WHEN c1 IS NOT NULL AND c2 IS NOT NULL THEN 1 END)
            AS shared_bins
        FROM j CROSS JOIN t),
      vb AS (
        SELECT n_chars AS v, COUNT(*) AS c1
        FROM documents WHERE source = 'src0' GROUP BY 1),
      vc AS (
        SELECT n_chars AS v, COUNT(*) AS c2
        FROM documents WHERE source <> 'src0' GROUP BY 1),
      u AS (
        SELECT COALESCE(vb.v, vc.v) AS v, COALESCE(c1, 0) AS c1,
          COALESCE(c2, 0) AS c2
        FROM vb FULL JOIN vc ON vb.v = vc.v),
      cum AS (
        SELECT SUM(c1) OVER (ORDER BY v) AS k1,
          SUM(c2) OVER (ORDER BY v) AS k2 FROM u),
      vt AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM u),
      ks AS (
        SELECT CAST(MAX(n1) AS BIGINT) AS n_base,
          CAST(MAX(n2) AS BIGINT) AS n_cand,
          CAST(MAX(ABS(k1 * n2 - k2 * n1)) AS BIGINT) AS ks_num,
          CAST(CAST(MAX(ABS(k1 * n2 - k2 * n1)) AS BIGINT) AS DOUBLE)
            / CAST(MAX(n1) * MAX(n2) AS DOUBLE) AS ks_stat
        FROM cum CROSS JOIN vt)
      SELECT * FROM psi CROSS JOIN ks""")) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val base = docs.filter(col("source") === "src0")
    val cand = docs.filter(col("source") =!= "src0")
    Drift.psi(base, cand, expr("n_chars div 100"))
      .crossJoin(Drift.ks(base, cand, col("n_chars")))
  }

  /** Deterministic training-data shuffle: salted-hash shard assignment +
    * intra-shard order — the 100 TB reshuffle with no global sort (shards
    * sort in parallel; the salt is the epoch). The order fingerprint
    * Σ doc_id·pos pins the exact permutation, so the hash-match proves
    * both engines derive the identical shuffled order. */
  val q120 = QueryDef(
    "q120_deterministic_shuffle",
    bench = true,
    oracle = Some(s"""
      WITH h AS (
        SELECT doc_id,
          ${Sketches.signed64FromHexSql("md5('epoch1|' || CAST(doc_id AS VARCHAR))")} AS h
        FROM documents),
      s AS (
        SELECT doc_id, ((h % 8) + 8) % 8 AS shard,
          ROW_NUMBER() OVER (PARTITION BY ((h % 8) + 8) % 8 ORDER BY h, doc_id) AS pos
        FROM h)
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(doc_id * pos) AS BIGINT) AS order_fingerprint,
        MIN(CASE WHEN pos = 1 THEN doc_id END) AS first_doc
      FROM s GROUP BY shard ORDER BY shard""")) { (s, dir) =>
    Curation.deterministicShuffle(
        Tables.load(s, dir, "documents"), idCol = "doc_id", nShards = 8, salt = "epoch1")
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("doc_id") * col("pos")).as("order_fingerprint"),
        min(when(col("pos") === 1, col("doc_id"))).as("first_doc"))
      .orderBy("shard")
  }

  /** Bigram-LM cross-entropy (`Retrieval.bigramNll`): mean −ln P(w₂|w₁)
    * under the corpus's own bigram model — the next perplexity proxy up
    * from q98's unigram. ln rounded to 9 decimals pre-aggregation, exact
    * decimal sums (the q98 conventions). */
  val q127 = QueryDef(
    "q127_bigram_nll",
    oracle = Some(s"""
      WITH bis AS (
        SELECT doc_id, unnest(${gramsAllSql(2)}) AS b FROM documents),
      bc AS (SELECT b, COUNT(*) AS cnt FROM bis GROUP BY 1),
      cc AS (SELECT split_part(b, ' ', 1) AS w1, SUM(cnt) AS ccnt FROM bc GROUP BY 1)
      SELECT bis.doc_id,
        COUNT(*) AS n_bigram,
        CAST(SUM(CAST(ROUND(-ln(CAST(bc.cnt AS DOUBLE) / CAST(cc.ccnt AS DOUBLE)), 9)
             AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS bigram_nll
      FROM bis JOIN bc USING (b) JOIN cc ON split_part(bis.b, ' ', 1) = cc.w1
      GROUP BY 1
      ORDER BY doc_id""")) { (s, dir) =>
    graft.operators.Retrieval
      .bigramNll(Tables.load(s, dir, "documents"))
      .orderBy("doc_id")
  }

  /** Bloom-filter decontamination: build a (deliberately small — 126-bit,
    * k=3) filter over the eval-set digests, probe the whole corpus with a
    * broadcast bit test — the pattern that replaces joining 100 TB
    * against the eval set. The accounting proves the contract in the
    * hash: every true hit is flagged (no false negatives) and the exact
    * false-positive count matches the oracle's identical bit arithmetic. */
  val q125 = QueryDef(
    "q125_bloom_decontamination",
    bench = true,
    oracle = Some(s"""
      WITH d AS (SELECT md5(text) AS key, doc_id FROM documents),
      ev AS (SELECT DISTINCT key FROM d WHERE doc_id % 20 = 0),
      corpus AS (SELECT DISTINCT key FROM d),
      arms AS (SELECT unnest([0, 1, 2]) AS j),
      pos AS (
        SELECT ((${Sketches.signed64FromHexSql("md5('bloom' || j || '|' || key)")} % 126) + 126) % 126 AS p
        FROM ev CROSS JOIN arms),
      words AS (
        SELECT p // 63 AS word_idx, bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
        FROM pos GROUP BY 1),
      probe AS (
        SELECT key,
          ((${Sketches.signed64FromHexSql("md5('bloom' || j || '|' || key)")} % 126) + 126) % 126 AS p
        FROM corpus CROSS JOIN arms),
      chk AS (
        SELECT key, MIN(CASE WHEN (COALESCE(bits, 0) & (1::BIGINT << CAST(p % 63 AS INT)))
                                  = (1::BIGINT << CAST(p % 63 AS INT)) THEN 1 ELSE 0 END) AS mc
        FROM (SELECT key, p // 63 AS word_idx, p FROM probe) pr
        LEFT JOIN words USING (word_idx)
        GROUP BY key)
      SELECT
        CAST(SUM(CASE WHEN e.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_keys,
        CAST(COUNT(*) AS BIGINT) AS n_corpus_keys,
        CAST(SUM(mc) AS BIGINT) AS n_flagged,
        CAST(SUM(CASE WHEN e.key IS NOT NULL AND mc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_true_hits,
        CAST(SUM(CASE WHEN e.key IS NULL AND mc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
      FROM chk LEFT JOIN ev e USING (key)""")) { (s, dir) =>
    val d = Tables.load(s, dir, "documents")
      .select(md5(col("text")).as("key"), col("doc_id"))
    val ev = d.filter(pmod(col("doc_id"), lit(20L)) === 0).select("key").distinct()
    val corpus = d.select("key").distinct()
    val sketch = Sketches.bloomBuild(ev, col("key"), words = 2, k = 3)
    val flagged = Sketches.bloomMightContain(
      sketch, corpus.withColumnRenamed("key", "probe"), words = 2, k = 3)
    flagged
      .join(ev.select(col("key").as("probe")).withColumn("in_eval", lit(1)),
        Seq("probe"), "left")
      .agg(
        sum(coalesce(col("in_eval"), lit(0))).cast("long").as("n_eval_keys"),
        count(lit(1)).as("n_corpus_keys"),
        sum(col("might_contain")).cast("long").as("n_flagged"),
        sum(when(col("in_eval") === 1 && col("might_contain") === 1, 1).otherwise(0))
          .cast("long").as("n_true_hits"),
        sum(when(col("in_eval").isNull && col("might_contain") === 1, 1).otherwise(0))
          .cast("long").as("n_false_pos"))
  }

  /** Per-source document cap through the bounded TopK aggregate
    * (`Curation.capPerGroupAgg`) — the huge-group twin of q135's window
    * form: identical rank contract (portable-hash order, id tie-break),
    * but the exchange carries ≤ k pairs per (task, source) instead of
    * every row of every group. The oracle re-derives the exact same
    * 40-bit hash rank with a window — proving the k-slot buffer IS the
    * window's top-k. */
  val q165 = QueryDef(
    "q165_source_cap",
    oracle = Some(s"""
      WITH h AS (
        SELECT source, doc_id,
          ((${Sketches.signed64FromHexSql("md5('cap|' || CAST(doc_id AS VARCHAR))")} % 1099511627776)
            + 1099511627776) % 1099511627776 AS h40
        FROM documents),
      r AS (
        SELECT source, doc_id,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY h40, doc_id) AS rn
        FROM h)
      SELECT source, CAST(rn AS BIGINT) AS sample_rank, doc_id
      FROM r WHERE rn <= 7 ORDER BY source, sample_rank""")) { (s, dir) =>
    Curation.capPerGroupAgg(Tables.load(s, dir, "documents"), k = 7,
        groupCol = "source")
      .orderBy("source", "sample_rank")
  }

  /** Incremental ingest dedup (`Dedup.incrementalNew`): a new batch
    * (doc_id ≡ 7 mod 10) deduped within itself and against the standing
    * corpus (everything else), on the q67 prefix digest (the fixtures
    * have no exact duplicate texts; shared 12-char prefixes give real
    * batch-vs-corpus collisions). Digest-only anti-join — bodies never
    * shuffle. */
  val q166 = QueryDef(
    "q166_incremental_dedup",
    oracle = Some("""
      WITH b AS (SELECT doc_id, substring(text, 1, 12) AS h
                 FROM documents WHERE doc_id % 10 = 7),
        c AS (SELECT DISTINCT substring(text, 1, 12) AS h
              FROM documents WHERE doc_id % 10 <> 7),
        k AS (SELECT h, MIN(doc_id) AS doc_id FROM b GROUP BY h)
      SELECT k.doc_id FROM k LEFT JOIN c ON k.h = c.h
      WHERE c.h IS NULL ORDER BY doc_id""")) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    Dedup.incrementalNew(
        docs.filter(pmod(col("doc_id"), lit(10L)) === 7),
        docs.filter(pmod(col("doc_id"), lit(10L)) =!= 7),
        substring(col("text"), 1, 12))
      .orderBy("doc_id")
  }

  /** Distinct-3-gram novelty per document (`Curation.ngramNovelty`):
    * fraction of a document's grams appearing in no other document —
    * the inverted-index df pass re-derived by the oracle over the shared
    * gram template. */
  val q167 = QueryDef(
    "q167_ngram_novelty",
    oracle = Some(s"""
      WITH sh AS (SELECT doc_id, unnest($shingleSql) AS s FROM documents),
        df AS (SELECT s, COUNT(*) AS c FROM sh GROUP BY s)
      SELECT sh.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_grams,
        CAST(SUM(CASE WHEN df.c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        CAST(SUM(CASE WHEN df.c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS novel_frac
      FROM sh JOIN df USING (s)
      GROUP BY sh.doc_id ORDER BY doc_id""")) { (s, dir) =>
    Curation.ngramNovelty(Tables.load(s, dir, "documents"), n = 3)
      .select(col("doc_id"), col("n_grams"), col("n_novel"), col("novel_frac"))
      .orderBy("doc_id")
  }

  /** SemDeDup pipeline summary (`Similarity.semanticDedup`'s stages run
    * explicitly): label-blocked cosine near-dup pairs (q40's operator) →
    * connected components (q67's operator) → drop non-representatives.
    * The oracle re-derives the whole pipeline in SQL, including the
    * transitive closure as a recursive CTE — so the hash match pins the
    * component structure, not just pair counts. */
  val q168 = QueryDef(
    "q168_semantic_dedup",
    oracle = Some(s"""
      WITH RECURSIVE p AS (
        SELECT a.vec_id id_a, q.vec_id id_b,
          $dotSql / (${normSql("a")} * ${normSql("q")}) AS c
        FROM embeddings a JOIN embeddings q
          ON a.label = q.label AND a.vec_id < q.vec_id),
      e0 AS (SELECT id_a, id_b FROM p WHERE c >= 0.4),
      edges AS (SELECT id_a AS a, id_b AS b FROM e0 UNION ALL SELECT id_b, id_a FROM e0),
      nodes AS (SELECT DISTINCT a AS id FROM edges),
      reach AS (
        SELECT id, id AS r FROM nodes
        UNION
        SELECT reach.id, e.b AS r FROM reach JOIN edges e ON e.a = reach.r),
      comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
      dropped AS (SELECT id FROM comp WHERE id <> component)
      SELECT
        (SELECT COUNT(*) FROM embeddings) AS n_total,
        (SELECT COUNT(*) FROM comp) AS n_in_clusters,
        (SELECT COUNT(DISTINCT component) FROM comp) AS n_clusters,
        (SELECT COUNT(*) FROM dropped) AS n_dropped,
        (SELECT COUNT(*) FROM embeddings) - (SELECT COUNT(*) FROM dropped) AS n_kept,
        (SELECT CAST(COALESCE(SUM(id), 0) AS BIGINT) FROM dropped) AS dropped_id_sum""")) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val comps = graft.operators.Dedup.components(
      Similarity.nearDupPairs(emb, threshold = 0.4, cell = "label",
        buckets = 8, pairParallelism = 32))
    val dropped = comps.filter(col("id") =!= col("component"))
    emb.agg(count(lit(1)).as("n_total"))
      .crossJoin(comps.agg(
        count(lit(1)).as("n_in_clusters"),
        countDistinct(col("component")).as("n_clusters")))
      .crossJoin(dropped.agg(
        count(lit(1)).as("n_dropped"),
        coalesce(sum(col("id")), lit(0L)).cast("long").as("dropped_id_sum")))
      .withColumn("n_kept", col("n_total") - col("n_dropped"))
      .select(col("n_total"), col("n_in_clusters"), col("n_clusters"),
        col("n_dropped"), col("n_kept"), col("dropped_id_sum"))
  }

  /** Corpus-level line dedup with document REWRITE (`Curation.dedupLines`,
    * the CCNet/RefinedWeb boilerplate-line removal): the fixture docs are
    * single-line word streams, so the query first reshapes each document
    * into 3-word lines (the q67 synthetic-structure idiom — both engines
    * run the identical reshape), then drops every line occurring in ≥ 5
    * distinct documents and reassembles the survivors in order. The
    * operator's df aggregate keys on md5(line) so line BODIES never ride
    * its exchange; the hot set (bounded by template vocabulary, not
    * corpus size) broadcasts; the only corpus-sized shuffle is the
    * reassembly groupBy(doc_id). The oracle re-derives hot lines and the
    * ordered reassembly independently (string_agg FILTER ORDER BY). */
  val q170 = QueryDef(
    "q170_line_dedup",
    oracle = Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      l AS (SELECT doc_id, ws,
              unnest(generate_series(0,
                CAST(floor((len(ws) + 2) / 3.0) AS BIGINT) - 1)) AS i
            FROM w),
      lines AS (SELECT doc_id, i AS pos,
                  array_to_string(ws[(i*3+1):(i*3+3)], ' ') AS line
                FROM l),
      hot AS (SELECT line FROM lines
              GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 5),
      f AS (SELECT doc_id, pos, line,
              line IN (SELECT line FROM hot) AS h
            FROM lines)
      SELECT doc_id,
        COALESCE(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT h),
                 '') AS kept_text,
        CAST(SUM(CASE WHEN h THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        COUNT(*) AS n_lines
      FROM f GROUP BY doc_id ORDER BY doc_id""")) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val ws = split(col("text"), " ")
    val nl = floor((size(ws) + lit(2)) / lit(3.0)).cast("long")
    val reshaped = docs.select(col("doc_id"),
      array_join(
        transform(sequence(lit(0L), nl - 1),
          i => array_join(slice(ws, (i * 3 + 1).cast("int"), lit(3)), " ")),
        "\n").as("text"))
    Curation.dedupLines(reshaped, minDf = 5L).orderBy("doc_id")
  }

  /** Audio round-trip oracle: synthesize a real PCM-16 WAV per document
    * (sample_i = 2·ascii(char_i) − 129 at 8 kHz — spaces go negative,
    * letters positive, never zero), decode it through the REAL container
    * arm (`WavDecode` RIFF walk + `Multimodal.decodeWavBatch` feature
    * kernels), while the oracle re-derives peak/RMS/zero-crossings
    * directly from the characters with no container anywhere — an
    * independent-path proof that WAV encode→decode is lossless and the
    * feature arithmetic is engine-exact (integer sums; the only doubles
    * are one division and one correctly-rounded sqrt at the exits). */
  val q171 = QueryDef(
    "q171_audio_roundtrip",
    oracle = Some("""
      WITH c AS (SELECT doc_id, text,
                   unnest(generate_series(1, len(text))) AS i
                 FROM documents),
      v AS (SELECT doc_id, i,
              2 * ascii(substring(text, i, 1)) - 129 AS s
            FROM c),
      t AS (SELECT doc_id, s,
              LAG(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
            FROM v)
      SELECT doc_id,
        CAST(COUNT(*) AS DOUBLE) / 8000 AS duration_s,
        CAST(MAX(ABS(s)) AS INT) AS peak,
        sqrt(CAST(SUM(CAST(s AS BIGINT) * s) AS DOUBLE) / COUNT(*)) AS rms,
        CAST(SUM(CASE WHEN prev IS NOT NULL AND ((s < 0) <> (prev < 0))
                 THEN 1 ELSE 0 END) AS BIGINT) AS zc
      FROM t GROUP BY doc_id ORDER BY doc_id""")) { (s, dir) =>
    import s.implicits._
    val wavs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        (id, graft.operators.WavDecode.encodePcm16Mono(
          8000, t.map(ch => 2 * ch.toInt - 129).toArray))
      }.toDF("doc_id", "payload")
    Multimodal.decodeWavBatch(wavs)
      .select(col("doc_id"), col("duration_s"),
        element_at(col("peak"), 1).as("peak"),
        element_at(col("rms"), 1).as("rms"),
        element_at(col("zero_crossings"), 1).as("zc"))
      .orderBy("doc_id")
  }

  /** Image round-trip oracle, the PNG twin of q171: each document's
    * characters become one row of 8-bit gray pixels, ImageIO-encoded to
    * PNG and decoded back through the pure-JVM `PngDecode` arm (Inflater
    * + unfilter); the oracle recomputes the dimensions and mean pixel
    * value straight from `ascii(char)` — two fully independent decoders
    * (JDK zlib vs SQL) agreeing bit-for-bit on every document. */
  val q172 = QueryDef(
    "q172_image_roundtrip",
    oracle = Some("""
      WITH c AS (SELECT doc_id, text, len(text) AS n,
                   unnest(generate_series(1, len(text))) AS i
                 FROM documents)
      SELECT doc_id, TRUE AS decoded,
        CAST(MIN(n) AS INT) AS width, CAST(1 AS INT) AS height,
        CAST(1 AS INT) AS channels,
        CAST(SUM(ascii(substring(text, i, 1))) AS DOUBLE) / MIN(n) AS mean_px
      FROM c GROUP BY doc_id ORDER BY doc_id""")) { (s, dir) =>
    import s.implicits._
    val pngs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val img = new java.awt.image.BufferedImage(
          t.length, 1, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        var x = 0
        while (x < t.length) { img.getRaster.setSample(x, 0, 0, t.charAt(x).toInt); x += 1 }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, bos.toByteArray)
      }.toDF("doc_id", "payload")
    Multimodal.decodePngBatch(pngs)
      .select(col("doc_id"), col("decoded"), col("width"), col("height"),
        col("channels"), element_at(col("mean_channel"), 1).as("mean_px"))
      .orderBy("doc_id")
  }

  /** Incremental batch-vs-corpus NEAR-dup (`Dedup.incrementalNearDupNewRun`):
    * the production LSH shape — a new ingest batch (every 10th document)
    * probes the existing corpus' band index; kept = batch docs with no
    * Jaccard ≥ 0.9 match in the corpus nor with a smaller-id batch doc
    * (pairwise dominance, the deterministic one-pass rule). The oracle
    * is the ALL-PAIRS ground truth (batch×corpus + batch² exact
    * Jaccard), so the hash match proves the banded probe plan has exact
    * recall on the fixture pair set — same contract as q36. Quadratic
    * oracle ⇒ scale-rehearsal exclusion list (the Spark side runs). */
  val q175 = QueryDef(
    "q175_incremental_near_dup",
    oracle = Some(s"""
      WITH g AS (SELECT doc_id, $shingleSql sh FROM documents),
      b AS (SELECT * FROM g WHERE doc_id % 10 = 0 AND len(sh) > 0),
      c AS (SELECT * FROM g WHERE doc_id % 10 <> 0 AND len(sh) > 0),
      hitc AS (SELECT DISTINCT b.doc_id FROM b JOIN c ON
        len(list_intersect(b.sh, c.sh))::DOUBLE
          / len(list_distinct(list_concat(b.sh, c.sh))) >= 0.9),
      dom AS (SELECT DISTINCT y.doc_id FROM b x JOIN b y ON x.doc_id < y.doc_id AND
        len(list_intersect(x.sh, y.sh))::DOUBLE
          / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.9)
      SELECT doc_id FROM documents
      WHERE doc_id % 10 = 0
        AND doc_id NOT IN (SELECT doc_id FROM hitc)
        AND doc_id NOT IN (SELECT doc_id FROM dom)
      ORDER BY doc_id""")) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    Dedup.incrementalNearDupNewRun(
        batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        threshold = 0.9)
      .pairs.orderBy("doc_id")
  }

  /** BPE vocabulary training over the corpus (`operators/Bpe`): 16 merge
    * rounds on the word-frequency table, plus the corpus token counts
    * after encoding with the learned rules.
    *
    * The oracle UNROLLS the 16 merge rounds as CTE triples (the
    * q177/q176 pattern): each round re-counts weighted adjacent pairs
    * from the chr(1)-delimited symbol string, picks the argmax with the
    * (n DESC, a, b) lexicographic tie-break, and rewrites via
    * `list_reduce` with an `ends_with(acc, sep || a)` boundary test —
    * the exact greedy left-to-right fold the Spark side runs (a plain
    * string `replace` would false-match mid-symbol: ["xa","b"] contains
    * the substring "a⊕b"). `total_tokens` re-derives from the final
    * symbol table as Σ cnt·len(syms) — equal to `encodeBatch`'s
    * per-document sum because rank-order replay ≡ lowest-rank-first
    * greedy encode (pinned in BpeSpec). The oracle runs all 16 rounds
    * unconditionally; the trainer's early-exhaustion stop (best pair
    * count < 2) never triggers on the test corpora (every sweep SF has
    * deep pair mass), and BpeSpec covers the exhaustion path. */
  val q173 = QueryDef(
    "q173_bpe_train",
    oracle = Some {
      val sep = "chr(1)"
      val rounds = (1 to 16).map { i =>
        s"""
      p$i AS (SELECT l[j] AS a, l[j+1] AS b, CAST(SUM(cnt) AS BIGINT) AS n
             FROM (SELECT cnt, string_split(s, $sep) AS l FROM s${i - 1}),
                  unnest(generate_series(1, len(l) - 1)) AS t(j)
             GROUP BY 1, 2),
      m$i AS MATERIALIZED (SELECT a, b, n FROM p$i ORDER BY n DESC, a ASC, b ASC LIMIT 1),
      s$i AS MATERIALIZED (SELECT cnt, list_reduce(string_split(s, $sep),
              (acc, x) -> CASE WHEN (acc = m$i.a OR ends_with(acc, $sep || m$i.a)) AND x = m$i.b
                          THEN acc || x ELSE acc || $sep || x END) AS s
             FROM s${i - 1}, m$i)"""
      }.mkString(",")
      val union = (1 to 16)
        .map(i => s"""SELECT ${i - 1} AS rank, a AS "left", b AS "right", n AS pair_count FROM m$i""")
        .mkString("\n      UNION ALL ")
      s"""
      WITH w AS MATERIALIZED (
        SELECT w AS word, COUNT(*) AS cnt FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) > 0 GROUP BY 1),
      s0 AS MATERIALIZED (SELECT cnt, array_to_string(string_split(word, ''), $sep) || $sep || '</w>' AS s FROM w),$rounds,
      merges AS ($union),
      tot AS (SELECT CAST(SUM(cnt * len(string_split(s, $sep))) AS BIGINT) AS total_tokens FROM s16),
      nd AS (SELECT COUNT(*) AS n_docs FROM documents)
      SELECT rank, "left", "right", pair_count, total_tokens, n_docs
      FROM merges CROSS JOIN tot CROSS JOIN nd ORDER BY rank"""
    }) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val merges = graft.operators.Bpe.train(docs, nMerges = 16)
    val enc = graft.operators.Bpe.encodeBatch(docs, merges)
    val totals = enc.agg(
      sum(col("n_tokens").cast("long")).as("total_tokens"),
      count(lit(1)).as("n_docs"))
    import s.implicits._
    val mergeDf = merges
      .map(m => (m.rank, m.left, m.right, m.count))
      .toDF("rank", "left", "right", "pair_count")
    mergeDf.crossJoin(totals).orderBy("rank")
  }

  /** Reference-LM perplexity filter (`Retrieval.interpolatedBigramNll`):
    * every document scored under the Jelinek-Mercer-interpolated bigram
    * model of the English subset — the CCNet quality-filter shape, one
    * step past q127's self-scored MLE (unseen bigrams back off to the
    * smoothed hashed-vocab unigram instead of −ln 0). λ and 1−λ enter
    * the oracle as the exact shortest-repr double literals the Scala
    * side computes (1−0.7 is NOT 0.3 in doubles — and DuckDB parses a
    * bare 0.3 as DECIMAL, a third value). */
  private val interpNllOracle = {
      val lam = s"CAST('${0.7}' AS DOUBLE)"
      val mu = s"CAST('${1 - 0.7}' AS DOUBLE)"
      s"""
      WITH bis AS (SELECT doc_id, lang = 'en' AS ref,
                     unnest(${gramsAllSql(2)}) AS b FROM documents),
      bc AS (SELECT b, SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS bc FROM bis GROUP BY 1),
      cc AS (SELECT split_part(b, ' ', 1) AS w1,
               SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS cc FROM bis GROUP BY 1),
      uc AS (SELECT split_part(b, ' ', 2) AS w2,
               SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS uc FROM bis GROUP BY 1),
      u AS (SELECT SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS u FROM bis)
      SELECT bis.doc_id, COUNT(*) AS n_bigram,
        CAST(SUM(CAST(ROUND(-ln(
            $lam * (CASE WHEN cc.cc > 0
                         THEN CAST(bc.bc AS DOUBLE) / CAST(cc.cc AS DOUBLE)
                         ELSE CAST(0 AS DOUBLE) END)
          + $mu * (CAST(uc.uc + 1 AS DOUBLE) / CAST(u.u + 1048576 AS DOUBLE))), 9)
          AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS xent
      FROM bis JOIN bc USING (b)
        JOIN cc ON split_part(bis.b, ' ', 1) = cc.w1
        JOIN uc ON split_part(bis.b, ' ', 2) = uc.w2
        CROSS JOIN u
      GROUP BY 1 ORDER BY doc_id"""
  }

  val q179 = QueryDef(
    "q179_interpolated_nll",
    oracle = Some(interpNllOracle)) { (s, dir) =>
    graft.operators.Retrieval
      .interpolatedBigramNll(Tables.load(s, dir, "documents"),
        ref = col("lang") === "en", lambda = 0.7)
      .orderBy("doc_id")
  }

  /** Cross-document duplicated spans (`Dedup.duplicateSpans`, k=6): the
    * exact-substring dedup mask — maximal merged runs of 6-grams that
    * occur ≥ 2 times anywhere in the corpus. The oracle re-derives the
    * positional shingle stream with a struct-list unnest, the duplicate
    * flag with the same gram-partition window count, and the span merge
    * with the same lag/running-sum islands — all integers, exact on both
    * engines. */
  val q182 = QueryDef(
    "q182_duplicate_spans",
    oracle = Some {
      val k = 6
      s"""
      WITH t AS (SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents),
      g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram
            FROM (SELECT doc_id, unnest(list_transform(
                    generate_series(1, len(toks)-${k - 1}),
                    i -> {'pos': i-1, 'gram': array_to_string(toks[i:i+${k - 1}], ' ')})) AS u
                  FROM t)),
      f AS (SELECT doc_id, pos FROM g
            QUALIFY COUNT(*) OVER (PARTITION BY gram) >= 2),
      l AS (SELECT doc_id, pos,
              LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM f),
      i AS (SELECT doc_id, pos,
              SUM(CASE WHEN prev IS NULL OR pos > prev + $k THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM l)
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + ${k - 1} AS span_end,
             MAX(pos) + $k - MIN(pos) AS span_tokens
      FROM i GROUP BY doc_id, isl ORDER BY doc_id, span_start"""
    },
    // bench-flagged r9: span dedup's hot path (VERDICT r8 #6)
    bench = true) { (s, dir) =>
    graft.operators.Dedup
      .duplicateSpans(Tables.load(s, dir, "documents"), k = 6)
      .orderBy("doc_id", "span_start")
  }

  /** KEEP-FIRST duplicated spans (`Dedup.duplicateSpansKeepFirst`, k=6):
    * the Lee-et-al keep-one-occurrence policy — each duplicated gram's
    * globally-smallest (doc, pos) occurrence stays unflagged, so excising
    * this mask keeps duplicated content exactly once corpus-wide. The
    * oracle adds the identical canonical-pick window (struct-min over
    * the gram partition) to the q182 derivation. */
  val q202 = QueryDef(
    "q202_span_keep_first",
    oracle = Some {
      val k = 6
      s"""
      WITH t AS (SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents),
      g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram
            FROM (SELECT doc_id, unnest(list_transform(
                    generate_series(1, len(toks)-${k - 1}),
                    i -> {'pos': i-1, 'gram': array_to_string(toks[i:i+${k - 1}], ' ')})) AS u
                  FROM t)),
      f AS (SELECT doc_id, pos FROM g
            QUALIFY COUNT(*) OVER (PARTITION BY gram) >= 2
               AND MIN(struct_pack(d := doc_id, p := pos)) OVER (PARTITION BY gram)
                   <> struct_pack(d := doc_id, p := pos)),
      l AS (SELECT doc_id, pos,
              LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM f),
      i AS (SELECT doc_id, pos,
              SUM(CASE WHEN prev IS NULL OR pos > prev + $k THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM l)
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + ${k - 1} AS span_end,
             MAX(pos) + $k - MIN(pos) AS span_tokens
      FROM i GROUP BY doc_id, isl ORDER BY doc_id, span_start"""
    }) { (s, dir) =>
    graft.operators.Dedup
      .duplicateSpansKeepFirst(Tables.load(s, dir, "documents"), k = 6)
      .orderBy("doc_id", "span_start")
  }

  /** Perceptual image aHash over real decoded pixels
    * (`Multimodal.imageAHashBatch`): 16×8 grayscale PNGs synthesized
    * from corpus text (wrapped — the q172 injection pattern), encoded
    * with ImageIO, decoded through the pure-JVM PNG arm, hashed with the
    * exact integer cross-multiplication contract. The oracle re-derives
    * every pixel from `ascii(char)` and packs the identical 64 bits
    * through HUGEINT with a two's-complement wrap — two fully
    * independent pixel paths agreeing bit-for-bit, plus the per-hash
    * duplicate count that makes it a dedup key. */
  val q195 = QueryDef(
    "q195_image_ahash",
    oracle = Some("""
      WITH d AS (SELECT doc_id, text, len(text) AS n
                 FROM documents WHERE len(text) > 0),
      px AS (SELECT doc_id, (i % 16) AS x, (i // 16) AS y,
               ascii(substring(text, CAST(i % n AS INT) + 1, 1)) AS v
             FROM d, unnest(generate_series(0, 127)) AS t(i)),
      blk AS (SELECT doc_id, y AS by, x // 2 AS bx,
                SUM(v) AS bs, COUNT(*) AS bp
              FROM px GROUP BY 1, 2, 3),
      tot AS (SELECT doc_id, SUM(v) AS ts FROM px GROUP BY 1),
      bits AS (SELECT blk.doc_id,
                 SUM(CASE WHEN bs * 128 > ts * bp
                          THEN CAST(1 AS HUGEINT) << CAST(63 - (by * 8 + bx) AS INT)
                          ELSE CAST(0 AS HUGEINT) END) AS s
               FROM blk JOIN tot USING (doc_id) GROUP BY 1),
      hs AS (SELECT doc_id,
               CAST(CASE WHEN s >= CAST('9223372036854775808' AS HUGEINT)
                         THEN s - CAST('18446744073709551616' AS HUGEINT)
                         ELSE s END AS BIGINT) AS ahash
             FROM bits)
      SELECT doc_id, TRUE AS decoded, CAST(16 AS INT) AS width,
        CAST(8 AS INT) AS height, ahash,
        COUNT(*) OVER (PARTITION BY ahash) AS n_same
      FROM hs ORDER BY doc_id""")) { (s, dir) =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pngs = Tables.load(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val img = new java.awt.image.BufferedImage(
          16, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        var i = 0
        while (i < 128) {
          img.getRaster.setSample(i % 16, i / 16, 0, t.charAt(i % t.length).toInt)
          i += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, bos.toByteArray)
      }.toDF("doc_id", "payload")
    Multimodal.imageAHashBatch(pngs)
      .withColumn("n_same", count(lit(1)).over(Window.partitionBy("ahash")))
      .orderBy("doc_id")
  }

  /** Near-duplicate IMAGE pairs end-to-end (`Multimodal.imageAHashBatch`
    * → `Dedup.signaturePairs`): perceptual hashes through the exact
    * (h+1)-chunk pigeonhole banding at Hamming 8 — the real perceptual
    * operating point (aHash near-dups of resized/re-encoded images land
    * at Hamming 5–10, not ≤ 3) — image dedup on the text-dedup
    * machinery. The oracle recomputes the hashes from ascii(char) pixels
    * (the q195 derivation) and takes the ALL-PAIRS Hamming filter, so
    * the hash match proves the banded plan has exact recall at a radius
    * where the banding runs 9 uneven chunks (8×7 bits + 1×8) — the q37
    * contract, on images, past the old 4-chunk ceiling. All-pairs
    * oracle ⇒ rehearsal exclusion. */
  val q196 = QueryDef(
    "q196_image_near_dup",
    oracle = Some("""
      WITH d AS (SELECT doc_id, text, len(text) AS n
                 FROM documents WHERE len(text) > 0),
      px AS (SELECT doc_id, (i % 16) AS x, (i // 16) AS y,
               ascii(substring(text, CAST(i % n AS INT) + 1, 1)) AS v
             FROM d, unnest(generate_series(0, 127)) AS t(i)),
      blk AS (SELECT doc_id, y AS by, x // 2 AS bx,
                SUM(v) AS bs, COUNT(*) AS bp
              FROM px GROUP BY 1, 2, 3),
      tot AS (SELECT doc_id, SUM(v) AS ts FROM px GROUP BY 1),
      bits AS (SELECT blk.doc_id,
                 SUM(CASE WHEN bs * 128 > ts * bp
                          THEN CAST(1 AS HUGEINT) << CAST(63 - (by * 8 + bx) AS INT)
                          ELSE CAST(0 AS HUGEINT) END) AS s
               FROM blk JOIN tot USING (doc_id) GROUP BY 1),
      hs AS (SELECT doc_id,
               CAST(CASE WHEN s >= CAST('9223372036854775808' AS HUGEINT)
                         THEN s - CAST('18446744073709551616' AS HUGEINT)
                         ELSE s END AS BIGINT) AS ahash
             FROM bits)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS dist
      FROM hs a JOIN hs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.ahash, b.ahash)) <= 8
      ORDER BY id_a, id_b""")) { (s, dir) =>
    import s.implicits._
    val pngs = Tables.load(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val img = new java.awt.image.BufferedImage(
          16, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        var i = 0
        while (i < 128) {
          img.getRaster.setSample(i % 16, i / 16, 0, t.charAt(i % t.length).toInt)
          i += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, bos.toByteArray)
      }.toDF("doc_id", "payload")
    val sigs = Multimodal.imageAHashBatch(pngs)
      .filter(col("decoded")).select(col("doc_id"), col("ahash"))
    Dedup.signaturePairs(sigs, maxHamming = 8, sig = "ahash")
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
      .orderBy("id_a", "id_b")
  }

  /** Test-fixture animated GIF: one constant-gray 8×8 frame per value,
    * written over an explicit 256-gray IndexColorModel so the palette
    * round-trips exactly (no quantizer — decoded means ARE the values). */
  private def grayAnimatedGif(values: Seq[Int]): Array[Byte] = {
    val ramp = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    values.foreach { v =>
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
      var i = 0
      while (i < 64) { img.getRaster.setSample(i % 8, i / 8, 0, v); i += 1 }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    writer.dispose(); ios.close()
    bos.toByteArray
  }

  /** Video-style frame sampling END-TO-END on a real multi-frame
    * container (`Multimodal.sampleGifFramesBatch` → `ImageIoDecode
    * .frames`): each document becomes an animated GIF whose frame f is a
    * constant-gray 8×8 raster of ascii(text[f]) (≤ 4 frames), decoded
    * back per-frame through the mapPartitions seam. The oracle re-derives
    * every frame's mean straight from `ascii(substring(text, ...))` — a
    * fully independent second path that works because the indexed-palette
    * GIF round-trip is exact (the q195 PNG trick, on an animation). */
  val q201 = QueryDef(
    "q201_gif_frames",
    oracle = Some("""
      WITH d AS (SELECT doc_id, text, CAST(LEAST(len(text), 4) AS INT) AS nf
                 FROM documents WHERE len(text) > 0)
      SELECT doc_id, nf AS n_frames, CAST(i AS INT) AS frame_idx,
        8 AS width, 8 AS height,
        CAST(ascii(substring(text, CAST(i AS INT) + 1, 1)) AS DOUBLE) AS mean_r
      FROM d, unnest(generate_series(0, nf - 1)) AS t(i)
      ORDER BY doc_id, frame_idx""")) { (s, dir) =>
    import s.implicits._
    val gifs = Tables.load(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        (id, grayAnimatedGif((0 until math.min(t.length, 4)).map(t.charAt(_).toInt)))
      }.toDF("doc_id", "payload")
    Multimodal.sampleGifFramesBatch(gifs, maxFrames = 8)
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        col("width"), col("height"), col("mean_r"))
      .orderBy("doc_id", "frame_idx")
  }

  /** URL canonicalization + per-domain rollup (`Text.urlHost` /
    * `registrableDomain` / `normalizeUrl`): every document gets a
    * deliberately messy synthetic URL — mixed-case scheme/host, optional
    * `WWW.`, userinfo-free authority with default (`:443`) and
    * non-default (`:8080`) ports, query, fragment — canonicalized into
    * the crawl dedup key and rolled up by registrable domain (the
    * ccTLD-aware heuristic keeps `shop.co.uk` whole while
    * `pages.example.com` collapses to `example.com`). Pure codegen'd
    * regex/string work: a 100 TB URL scan is a map, the rollup is one
    * two-row aggregate. Oracle mirrors the construction and the
    * canonicalization character-for-character in the RE2∩Java subset. */
  val q206 = QueryDef(
    "q206_url_domains",
    oracle = Some {
      val tok = s"COALESCE(${Text.tokensSql("text")}[1], 'host')"
      val url =
        s"""(CASE WHEN doc_id % 2 = 0 THEN 'HtTpS' ELSE 'hTtP' END || '://' ||
            CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END || $tok ||
            CASE WHEN doc_id % 3 = 0 THEN '.Shop.Co.Uk' ELSE '.Pages.Example.Com' END ||
            CASE WHEN doc_id % 5 = 0 THEN ':8080'
                 WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
            '/Doc/' || doc_id ||
            CASE WHEN doc_id % 4 = 0 THEN '?Ref=RSS' ELSE '' END || '#Sec2')"""
      s"""
      WITH u AS (SELECT doc_id, $url AS url FROM documents),
      c AS (SELECT doc_id, url, ${Text.urlHostSql("url")} AS host,
              ${Text.normalizeUrlSql("url")} AS norm FROM u)
      SELECT ${Text.registrableDomainSql("host")} AS domain,
        COUNT(*) AS n_docs,
        CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
        CAST(SUM(CASE WHEN norm LIKE '%:8080/%' THEN 1 ELSE 0 END) AS BIGINT) AS n_port_kept,
        CAST(COUNT(DISTINCT norm) AS BIGINT) AS n_norm,
        MIN(norm) AS sample_url
      FROM c GROUP BY 1 ORDER BY domain"""
    }) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val tok = coalesce(element_at(Text.tokens(col("text")), 1), lit("host"))
    val url = concat(
      when(pmod(col("doc_id"), lit(2)) === 0, "HtTpS").otherwise("hTtP"), lit("://"),
      when(pmod(col("doc_id"), lit(3)) === 0, "WWW.").otherwise(""), tok,
      when(pmod(col("doc_id"), lit(3)) === 0, ".Shop.Co.Uk").otherwise(".Pages.Example.Com"),
      when(pmod(col("doc_id"), lit(5)) === 0, ":8080")
        .when(pmod(col("doc_id"), lit(2)) === 0, ":443").otherwise(""),
      lit("/Doc/"), col("doc_id"),
      when(pmod(col("doc_id"), lit(4)) === 0, "?Ref=RSS").otherwise(""), lit("#Sec2"))
    docs.select(col("doc_id"), url.as("url"))
      .select(col("url"), Text.urlHost(col("url")).as("host"),
        Text.normalizeUrl(col("url")).as("norm"))
      .groupBy(Text.registrableDomain(col("host")).as("domain"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"),
        sum(when(col("norm").contains(":8080/"), 1L).otherwise(0L)).as("n_port_kept"),
        countDistinct(col("norm")).as("n_norm"),
        min(col("norm")).as("sample_url"))
      .orderBy("domain")
  }

  /** WARC ingest round-trip (`Warc.explodeWarcBatch`): each document
    * becomes a two-record WARC file — warcinfo + an HTTP response whose
    * body is the document text — written with exact Content-Length
    * framing, and EVEN doc_ids ship as concatenated per-record gzip
    * members (the Common Crawl layout), so half the corpus exercises the
    * multi-member gunzip path; any asymmetry between the raw and gzip
    * arms would break the hash. The oracle re-derives every field from
    * arithmetic: the response record's Content-Length is
    * 63 + len(str(L)) + L octets (fixed HTTP header skeleton + the
    * length digits + the body), no container parsing anywhere. */
  val q205 = QueryDef(
    "q205_warc_ingest",
    oracle = Some("""
      WITH d AS (SELECT doc_id, text, strlen(text) AS L FROM documents),
      r0 AS (SELECT doc_id, FALSE AS truncated, 0 AS rec_idx,
              'warcinfo' AS warc_type, '' AS target_uri,
              '2026-01-02T03:04:05Z' AS warc_date,
              CAST(17 AS BIGINT) AS content_length,
              CAST(NULL AS INT) AS http_status,
              CAST(NULL AS VARCHAR) AS http_content_type,
              'software: graft' || chr(13) || chr(10) AS body_text FROM d),
      r1 AS (SELECT doc_id, FALSE, 1, 'response',
              'http://corpus.test/doc/' || doc_id, '2026-01-02T03:04:05Z',
              CAST(63 + len(CAST(L AS VARCHAR)) + L AS BIGINT),
              200, 'text/plain', text FROM d)
      SELECT * FROM r0 UNION ALL SELECT * FROM r1
      ORDER BY doc_id, rec_idx""")) { (s, dir) =>
    import s.implicits._
    val date = "2026-01-02T03:04:05Z"
    val files = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val recs = Seq(
          graft.operators.Warc.encodeWarcinfo(date, "software: graft\r\n"),
          graft.operators.Warc.encodeResponse(s"http://corpus.test/doc/$id",
            date, t.getBytes("UTF-8")))
        (id, graft.operators.Warc.encodeFile(recs, gzipPerRecord = id % 2 == 0))
      }.toDF("doc_id", "payload")
    graft.operators.Warc.explodeWarcBatch(files).orderBy("doc_id", "rec_idx")
  }

  /** Lossless-WebP round-trip, the VP8L twin of q172: each document's
    * first 200 characters become one row of ARGB pixels
    * (r = ascii, g = ascii+7, b = 255−ascii, opaque), encoded as a real
    * VP8L bitstream (14-bit header, code-length-coded flat-8 canonical
    * prefix codes, RIFF wrap) by `WebpDecode.encodeLossless` and decoded
    * back through the pure-JVM VP8L arm of `decodeImageBatch` — bit
    * reader, canonical Huffman build, literal loop, channel means. The
    * oracle re-derives everything from `ascii(char)` with no container
    * anywhere: two independent decode paths agreeing exactly, same
    * contract as the PNG/WAV/MP4 round-trips. */
  val q204 = QueryDef(
    "q204_webp_roundtrip",
    oracle = Some("""
      WITH d AS (SELECT doc_id, substring(text, 1, 200) AS t
                 FROM documents WHERE len(text) > 0),
      c AS (SELECT doc_id, t, len(t) AS n,
              unnest(generate_series(1, len(t))) AS i FROM d),
      v AS (SELECT doc_id, n, ascii(substring(t, CAST(i AS INT), 1)) AS a FROM c)
      SELECT doc_id, TRUE AS decoded, 'webp' AS format,
        CAST(MIN(n) AS INT) AS width, 1 AS height, 3 AS channels,
        CAST(SUM(a) AS DOUBLE) / MIN(n) AS mean_r,
        CAST(SUM(a + 7) AS DOUBLE) / MIN(n) AS mean_g,
        CAST(SUM(255 - a) AS DOUBLE) / MIN(n) AS mean_b
      FROM v GROUP BY doc_id ORDER BY doc_id""")) { (s, dir) =>
    import s.implicits._
    val webps = Tables.load(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t0) =>
        val t = t0.take(200)
        val px = Array.tabulate(t.length) { i =>
          val a = t.charAt(i).toInt
          (0xff << 24) | (a << 16) | ((a + 7) << 8) | (255 - a)
        }
        (id, graft.operators.WebpDecode.encodeLossless(t.length, 1, px))
      }.toDF("doc_id", "payload")
    Multimodal.decodeImageBatch(webps)
      .select(col("doc_id"), col("decoded"), col("format"), col("width"),
        col("height"), col("channels"),
        element_at(col("mean_channel"), 1).as("mean_r"),
        element_at(col("mean_channel"), 2).as("mean_g"),
        element_at(col("mean_channel"), 3).as("mean_b"))
      .orderBy("doc_id")
  }

  /** MP4 frame-sampling round-trip (`Mp4SampleTable` +
    * `Multimodal.sampleMp4FramesBatch`): each document deterministically
    * becomes a structurally real AVC MP4 — (len mod 6)+3 samples whose
    * byte sizes are the document's own character codes, a two-run stts
    * (128-tick first half, 256 rest, timescale 512 so every time is an
    * exact binary fraction), 2-sample chunks, keyframes every 3rd sample
    * — and the engine SAMPLES its keyframes by resolving the
    * stsz/stts/stsc/stco/stss tables back out of the bytes, extracting
    * each keyframe's NAL type from the mdat bytes at the resolved
    * offsets. The oracle never sees a container: it recomputes offsets
    * (24 + prefix-sum of character codes), decode times, and sync
    * positions straight from `ascii(char)` arithmetic — the independent
    * second path proving the box walk, the chunk flattening, and the
    * range extraction are all byte-exact. The pixel step past the NAL
    * boundary stays on the declared codec seam. */
  val q203 = QueryDef(
    "q203_mp4_frames",
    oracle = Some("""
      WITH d AS (SELECT doc_id, text, len(text) AS L, (len(text) % 6) + 3 AS n
                 FROM documents WHERE len(text) > 0),
      s AS (SELECT doc_id, text, L, n, unnest(generate_series(1, n)) AS i FROM d),
      z AS (SELECT doc_id, n, i,
              CAST(GREATEST(6, ascii(substring(text, CAST(((i-1) % L) + 1 AS INT), 1))) AS BIGINT) AS sz,
              CASE WHEN i <= (n + 1) // 2 THEN 128 ELSE 256 END AS delta
            FROM s),
      w AS (SELECT doc_id, n, i, sz,
              24 + COALESCE(SUM(sz) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off,
              COALESCE(SUM(delta) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS t,
              SUM(delta) OVER (PARTITION BY doc_id) AS dur,
              SUM(CASE WHEN (i-1) % 3 = 0 THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id) AS nsync
            FROM z)
      SELECT doc_id, 'avc1' AS codec, CAST(n AS INT) AS n_samples,
        CAST(nsync AS INT) AS n_sync,
        CAST(dur AS DOUBLE) / 512 AS duration_s,
        CAST(i AS INT) AS sample_idx,
        CAST(t AS DOUBLE) / 512 AS time_s,
        TRUE AS keyframe,
        CAST(off AS BIGINT) AS byte_offset,
        sz AS byte_size,
        5 AS nal_type
      FROM w WHERE (i - 1) % 3 = 0
      ORDER BY doc_id, sample_idx""")) { (s, dir) =>
    import s.implicits._
    val mp4s = Tables.load(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val n = (t.length % 6) + 3
        // clamp at the 6-byte structural minimum (4B NAL length + header
        // + filler) — mirrored by the oracle's GREATEST(6, ascii(...))
        val sizes = Array.tabulate(n)(i => math.max(6L, t.charAt(i % t.length).toLong))
        val deltas = Array.tabulate(n)(i => if (i + 1 <= (n + 1) / 2) 128L else 256L)
        val syncs = (1 to n).filter(i => (i - 1) % 3 == 0).toArray
        (id, graft.operators.Mp4SampleTable.encodeAvcSkeleton(
          timescale = 512, sampleSizes = sizes, deltas = deltas,
          syncSamples = syncs, samplesPerChunk = 2))
      }.toDF("doc_id", "payload")
    Multimodal.sampleMp4FramesBatch(mp4s, maxFrames = 8)
      .select(col("doc_id"), col("codec"), col("n_samples"), col("n_sync"),
        col("duration_s"), col("sample_idx"), col("time_s"), col("keyframe"),
        col("byte_offset"), col("byte_size"), col("nal_type"))
      .orderBy("doc_id", "sample_idx")
  }

  /** Winnowing fingerprints (`Dedup.winnowFingerprints`, k=4, window=5):
    * the MOSS selection — windowed MIN over the packed
    * (h40, inverted-pos) key realizes min-by-hash-rightmost-tie in one
    * window; the oracle packs the identical key from the same md5-low64
    * hash. All integers. */
  val q194 = QueryDef(
    "q194_winnow_fingerprints",
    oracle = Some {
      val k = 4
      val sig = graft.operators.Sketches.signed64FromHexSql("md5(gram)")
      s"""
      WITH t AS (SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents),
      g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram
            FROM (SELECT doc_id, unnest(list_transform(
                    generate_series(1, len(toks)-${k - 1}),
                    i -> {'pos': i-1, 'gram': array_to_string(toks[i:i+${k - 1}], ' ')})) AS u
                  FROM t)),
      h AS (SELECT doc_id, pos,
              ((($sig) % 1099511627776 + 1099511627776) % 1099511627776) * 1048576
                + (1048575 - pos % 1048576) AS key
            FROM g),
      w AS (SELECT doc_id, pos,
              COUNT(*) OVER (PARTITION BY doc_id) AS n,
              MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS sel
            FROM h)
      SELECT DISTINCT doc_id,
        1048575 - (sel & 1048575) AS fp_pos,
        sel >> 20 AS fp_hash
      FROM w WHERE pos <= GREATEST(n - 5, 0)
      ORDER BY doc_id, fp_pos"""
    },
    // bench-flagged r9: fingerprint selection's hot path (VERDICT r8 #6)
    bench = true) { (s, dir) =>
    graft.operators.Dedup
      .winnowFingerprints(Tables.load(s, dir, "documents"), k = 4, window = 5)
      .orderBy("doc_id", "fp_pos")
  }

  /** Semantic communities end-to-end (`Similarity.mutualKnnEdges` over
    * the brute top-3 + `Graph.labelPropagation`, 3 rounds): the
    * embedding-clustering composite — kNN graph, hub-killing mutual
    * filter, deterministic community labels. The oracle re-derives the
    * top-3 (q38's raw-cosine ranking), the mutual join, and the same 3
    * unrolled label-propagation rounds (the q176 step pattern), pinning
    * the whole composition bit-for-bit. All-pairs scoring in BOTH
    * engines — rehearsal-excluded (the q36 class); the scale path swaps
    * the scorer for cellTopK/multiProbeTopK, mutual+labelprop unchanged. */
  val q193 = QueryDef(
    "q193_semantic_communities",
    oracle = Some {
      def step(i: Int) = s""",
      c$i AS (SELECT sym.d AS id, l${i - 1}.lbl, COUNT(*) AS cnt
              FROM sym JOIN l${i - 1} ON l${i - 1}.id = sym.s GROUP BY 1, 2),
      p$i AS (SELECT id, (list(lbl ORDER BY cnt DESC, lbl ASC))[1] AS lbl
              FROM c$i GROUP BY id),
      l$i AS (SELECT n.id, COALESCE(p$i.lbl, l${i - 1}.lbl) AS lbl
              FROM n LEFT JOIN p$i USING (id) JOIN l${i - 1} USING (id))"""
      s"""
      WITH scored AS (
        SELECT q.vec_id AS qid, a.vec_id AS nb,
          $dotSql / (${normSql("a")} * ${normSql("q")}) AS c
        FROM embeddings a JOIN embeddings q ON a.vec_id <> q.vec_id),
      ranked AS (
        SELECT qid, nb,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nb) AS rnk
        FROM scored),
      top AS (SELECT qid, nb FROM ranked WHERE rnk <= 3),
      mut AS (SELECT t1.qid AS a, t1.nb AS b
              FROM top t1 JOIN top t2 ON t1.qid = t2.nb AND t1.nb = t2.qid
              WHERE t1.qid < t1.nb),
      sym AS (SELECT a AS s, b AS d FROM mut UNION SELECT b, a FROM mut),
      n AS (SELECT DISTINCT s AS id FROM sym),
      l0 AS (SELECT id, id AS lbl FROM n)${(1 to 3).map(step).mkString}
      SELECT id, lbl AS community FROM l3 ORDER BY id"""
    }) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val sc = emb.sparkSession.sparkContext.defaultParallelism
    val top = Similarity.bruteForceTopK(emb,
      emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
      k = 3, scanParallelism = sc)
    val edges = Similarity.mutualKnnEdges(top)
    graft.operators.Graph.labelPropagation(edges, iterations = 3).orderBy("id")
  }

  /** Gopher-rules quality gate (`Curation.gopherRules`, thresholds tuned
    * to split the fixture corpus): named failed rules per document, all
    * exact-integer ratios vs exact-double literals — no rounding. */
  val q192 = QueryDef(
    "q192_gopher_rules",
    oracle = Some {
      val toks = Text.tokensSql("text")
      val stop = Text.EnglishStopwords.map(w => s"'$w'").mkString(", ")
      s"""
      WITH s AS (
        SELECT doc_id, len($toks) AS n,
          ${Text.meanTokenLengthSql("text")} AS ml,
          len(regexp_replace(lower(text), '[a-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g')) AS sym,
          len(list_filter($toks, w -> w IN ($stop))) AS st,
          len(${gramsAllSql(2)}) AS gt,
          len(list_distinct(${gramsAllSql(2)})) AS gd
        FROM documents)
      SELECT doc_id, CAST(n AS BIGINT) AS n_tok,
        concat_ws(',',
          CASE WHEN n < 25 OR n > 90 THEN 'word_count' END,
          CASE WHEN n > 0 AND (ml < CAST('4.0' AS DOUBLE) OR ml > CAST('5.0' AS DOUBLE))
               THEN 'mean_word_length' END,
          CASE WHEN n > 0 AND CAST(sym AS DOUBLE) / CAST(n AS DOUBLE) > CAST('0.1' AS DOUBLE)
               THEN 'symbol_ratio' END,
          CASE WHEN st < 2 THEN 'stopword_hits' END,
          CASE WHEN gt > 0 AND CAST(gt - gd AS DOUBLE) / CAST(gt AS DOUBLE) > CAST('0.2' AS DOUBLE)
               THEN 'dup_gram_frac' END) AS failed_rules,
        concat_ws(',',
          CASE WHEN n < 25 OR n > 90 THEN 'word_count' END,
          CASE WHEN n > 0 AND (ml < CAST('4.0' AS DOUBLE) OR ml > CAST('5.0' AS DOUBLE))
               THEN 'mean_word_length' END,
          CASE WHEN n > 0 AND CAST(sym AS DOUBLE) / CAST(n AS DOUBLE) > CAST('0.1' AS DOUBLE)
               THEN 'symbol_ratio' END,
          CASE WHEN st < 2 THEN 'stopword_hits' END,
          CASE WHEN gt > 0 AND CAST(gt - gd AS DOUBLE) / CAST(gt AS DOUBLE) > CAST('0.2' AS DOUBLE)
               THEN 'dup_gram_frac' END) = '' AS passes
      FROM s ORDER BY doc_id"""
    }) { (s, dir) =>
    Curation.gopherRules(Tables.load(s, dir, "documents"),
        minWords = 25, maxWords = 90, minMeanLen = 4.0, maxMeanLen = 5.0)
      .orderBy("doc_id")
  }

  /** Zipf-law fit (`Curation.zipfFit`): one-row corpus diagnostic —
    * least-squares ln f vs ln rank. Each ln rounds to the 1e-9 lattice
    * before exact decimal moment sums; the closed-form slope runs in
    * doubles on those exact sums, identical ops both engines. The
    * moment→double casts route through `Compat.exactDoubleSql`: the
    * scale-18 product sums pass 2^53 unscaled at vocabulary scale
    * (caught by the sf10 sweep at 9.4e-15 — DuckDB's direct decimal
    * cast double-rounds there, Spark's BigDecimal path doesn't). */
  val q190 = QueryDef(
    "q190_zipf_fit",
    oracle = Some {
      def l9(e: String) =
        s"CAST(${Compat.roundSql(s"ln(CAST($e AS DOUBLE))", 9)} AS DECIMAL(18,9))"
      s"""
      WITH tf AS (SELECT t, COUNT(*) AS f
                  FROM (SELECT unnest(${Text.tokensSql("text")}) AS t FROM documents)
                  GROUP BY 1),
      r AS (SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, t) AS rk FROM tf),
      m AS (SELECT COUNT(*) AS n,
              SUM(${l9("rk")}) AS sx, SUM(${l9("f")}) AS sy,
              SUM(${l9("rk")} * ${l9("f")}) AS sxy,
              SUM(${l9("rk")} * ${l9("rk")}) AS sxx
            FROM r)
      SELECT CAST(n AS BIGINT) AS n_vocab,
        -((CAST(n AS DOUBLE) * ${Compat.exactDoubleSql("sxy")} - ${Compat.exactDoubleSql("sx")} * ${Compat.exactDoubleSql("sy")})
          / (CAST(n AS DOUBLE) * ${Compat.exactDoubleSql("sxx")} - ${Compat.exactDoubleSql("sx")} * ${Compat.exactDoubleSql("sx")}))
          AS alpha,
        (${Compat.exactDoubleSql("sy")}
          - ((CAST(n AS DOUBLE) * ${Compat.exactDoubleSql("sxy")} - ${Compat.exactDoubleSql("sx")} * ${Compat.exactDoubleSql("sy")})
             / (CAST(n AS DOUBLE) * ${Compat.exactDoubleSql("sxx")} - ${Compat.exactDoubleSql("sx")} * ${Compat.exactDoubleSql("sx")}))
            * ${Compat.exactDoubleSql("sx")}) / CAST(n AS DOUBLE) AS intercept
      FROM m"""
    }) { (s, dir) =>
    Curation.zipfFit(Tables.load(s, dir, "documents"))
  }

  /** Token-budget mixture cut (`Curation.tokenBudgetSample`, 700 tokens
    * per source): hash-permuted cumulative token count per group, keep
    * while within budget — the operator that turns mixture weights into
    * an actual dataset. All integers + md5 ordering: exact. */
  val q188 = QueryDef(
    "q188_token_budget",
    oracle = Some(s"""
      WITH c AS (SELECT doc_id, source, ${Text.tokenCountSql("text")} AS n
                 FROM documents),
      w AS (SELECT doc_id, source, n,
              SUM(n) OVER (PARTITION BY source
                ORDER BY md5('budget|' || CAST(doc_id AS VARCHAR)), doc_id) AS cum
            FROM c)
      SELECT doc_id, source, CAST(n AS BIGINT) AS n_tok, CAST(cum AS BIGINT) AS cum_tok
      FROM w WHERE cum <= 700 ORDER BY doc_id""")) { (s, dir) =>
    Curation.tokenBudgetSample(Tables.load(s, dir, "documents"), budgetTokens = 700)
      .orderBy("doc_id")
  }

  /** Fractional repeat-upsampling (`Curation.repeatUpsample`: src0 ×2.5,
    * src1 ×1.0, rest ×0.25): ⌊f⌋ copies plus a portable-uniform draw for
    * the fractional epoch; f < 1 downsamples. The factors are exact
    * binary doubles, so the fractional thresholds are exact on both
    * engines. */
  val q189 = QueryDef(
    "q189_repeat_upsample",
    oracle = Some {
      val u = graft.functions.Rand.portableUniformSql(0, "'rep|' || CAST(doc_id AS VARCHAR)")
      s"""
      WITH f AS (SELECT doc_id, source,
                   CASE WHEN source = 'src0' THEN CAST('2.5' AS DOUBLE)
                        WHEN source = 'src1' THEN CAST('1.0' AS DOUBLE)
                        ELSE CAST('0.25' AS DOUBLE) END AS fac
                 FROM documents),
      n AS (SELECT doc_id, source,
              CAST(floor(fac) AS BIGINT) +
                (CASE WHEN $u < fac - floor(fac) THEN 1 ELSE 0 END) AS nrep
            FROM f)
      SELECT doc_id, source, CAST(t.u AS BIGINT) AS copy_idx
      FROM n, unnest(generate_series(1, nrep)) AS t(u)
      WHERE nrep > 0 ORDER BY doc_id, copy_idx"""
    }) { (s, dir) =>
    val fac = when(col("source") === "src0", lit(2.5))
      .when(col("source") === "src1", lit(1.0))
      .otherwise(lit(0.25))
    Curation.repeatUpsample(Tables.load(s, dir, "documents"), factor = fac)
      .select(col("doc_id"), col("source"), col("copy_idx"))
      .orderBy("doc_id", "copy_idx")
  }

  /** kNN label-accuracy probe (`Eval.knnLabelAccuracy`, k=5, every 10th
    * vector as a query): per-label majority-vote accuracy of the
    * embedding space — the curation-time embedding-quality eval. Ranking
    * and vote tie-breaks mirror q38's raw-cosine contract; counts are
    * integers. */
  val q187 = QueryDef(
    "q187_knn_accuracy",
    oracle = Some(s"""
      WITH scored AS (
        SELECT q.vec_id AS qid, q.label AS qlabel,
          a.vec_id AS neighbor, a.label AS nlabel,
          $dotSql / (${normSql("a")} * ${normSql("q")}) AS c
        FROM embeddings a JOIN embeddings q
          ON q.vec_id % 10 = 0 AND a.vec_id <> q.vec_id),
      ranked AS (
        SELECT qid, qlabel, nlabel,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, neighbor) AS rnk
        FROM scored),
      votes AS (
        SELECT qid, qlabel, nlabel, COUNT(*) AS cnt
        FROM ranked WHERE rnk <= 5 GROUP BY 1, 2, 3),
      pred AS (
        SELECT qid, qlabel, nlabel AS p
        FROM votes
        QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cnt DESC, nlabel) = 1)
      SELECT qlabel AS label, COUNT(*) AS n_queries,
        CAST(SUM(CASE WHEN p = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
      FROM pred GROUP BY 1 ORDER BY label""")) { (s, dir) =>
    graft.operators.Eval
      .knnLabelAccuracy(Tables.load(s, dir, "embeddings"), k = 5, sampleMod = 10)
      .orderBy("label")
  }

  /** Character-distribution quality signals (`Text.charEntropy` /
    * `digitFraction`): Shannon entropy of the alphanumeric char stream
    * (keyboard-mash / template-spam detector) and digit share — fully
    * row-local HOF work, no exchange. Entropy terms round onto the 1e-9
    * long grid before the order-free integer sum (q58 idiom). */
  val q186 = QueryDef(
    "q186_char_stats",
    oracle = Some {
      val p = "(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))"
      s"""
      WITH b AS (SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]') AS cs
                 FROM documents),
      c AS (SELECT doc_id, cs, len(cs) AS n FROM b),
      d AS (SELECT doc_id, n, cs, unnest(list_distinct(cs)) AS ch FROM c),
      t AS (SELECT doc_id, n,
              ${Compat.roundToLongSql(s"((-($p)) * ln($p)) * 1000000000.0")} AS term
            FROM (SELECT doc_id, n, len(list_filter(cs, x -> x = ch)) AS cnt FROM d)),
      e AS (SELECT doc_id, CAST(SUM(term) AS DOUBLE) / 1000000000.0 AS ent
            FROM t GROUP BY 1)
      SELECT c.doc_id, CAST(c.n AS BIGINT) AS n_alnum,
        CASE WHEN c.n > 0
             THEN CAST(len(list_filter(cs, ch -> ch BETWEEN '0' AND '9')) AS DOUBLE)
                  / CAST(c.n AS DOUBLE)
             ELSE CAST(0 AS DOUBLE) END AS digit_frac,
        COALESCE(e.ent, CAST(0 AS DOUBLE)) AS char_entropy
      FROM c LEFT JOIN e USING (doc_id)
      ORDER BY c.doc_id"""
    }) { (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]"), lit(0)))
          .cast("long").as("n_alnum"),
        Text.digitFraction(col("text")).as("digit_frac"),
        Text.charEntropy(col("text")).as("char_entropy"))
      .orderBy("doc_id")
  }

  /** Duplicated-span excision (`Dedup.exciseSpans` over
    * `Dedup.duplicateSpans`, k=6, minSpanTokens=8): the rewrite action
    * behind q182's mask — remove every merged duplicated span of ≥ 8
    * tokens, rebuild the text from surviving tokens. The oracle
    * re-derives the q182 spans, range-joins token positions against
    * them, and string_aggs the survivors — strings and integers only. */
  val q185 = QueryDef(
    "q185_span_excision",
    oracle = Some {
      val k = 6
      s"""
      WITH t AS (SELECT doc_id, ${Text.tokensSql("text")} AS toks FROM documents),
      g AS (SELECT doc_id, u.pos AS pos, u.gram AS gram
            FROM (SELECT doc_id, unnest(list_transform(
                    generate_series(1, len(toks)-${k - 1}),
                    i -> {'pos': i-1, 'gram': array_to_string(toks[i:i+${k - 1}], ' ')})) AS u
                  FROM t)),
      f AS (SELECT doc_id, pos FROM g
            QUALIFY COUNT(*) OVER (PARTITION BY gram) >= 2),
      l AS (SELECT doc_id, pos,
              LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM f),
      i AS (SELECT doc_id, pos,
              SUM(CASE WHEN prev IS NULL OR pos > prev + $k THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM l),
      sp AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + ${k - 1} AS e
             FROM i GROUP BY doc_id, isl
             HAVING MAX(pos) + $k - MIN(pos) >= 8),
      tok AS (SELECT doc_id, u.t AS tok, u.i - 1 AS p
              FROM (SELECT doc_id,
                      unnest(list_transform(toks, (x, ix) -> {'t': x, 'i': ix})) AS u
                    FROM t)),
      cov AS (SELECT tok.doc_id, tok.tok, tok.p,
                COUNT(sp.s) > 0 AS hit
              FROM tok LEFT JOIN sp
                ON sp.doc_id = tok.doc_id AND tok.p BETWEEN sp.s AND sp.e
              GROUP BY 1, 2, 3),
      agg AS (SELECT doc_id,
                COALESCE(string_agg(tok, ' ' ORDER BY p) FILTER (WHERE NOT hit), '') AS kept_text,
                COUNT(*) AS n_tok,
                CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
              FROM cov GROUP BY 1)
      SELECT d.doc_id,
        COALESCE(agg.kept_text, '') AS kept_text,
        COALESCE(agg.n_tok, 0) AS n_tok,
        COALESCE(agg.n_removed, 0) AS n_removed
      FROM documents d LEFT JOIN agg USING (doc_id)
      ORDER BY d.doc_id"""
    }) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    Dedup.exciseSpans(docs, Dedup.duplicateSpans(docs, k = 6), minSpanTokens = 8)
      .orderBy("doc_id")
  }

  /** Naive-Bayes quality LLR (`Retrieval.naiveBayesLlr`): the GPT-3-style
    * quality classifier — NB trained on the doc_id%5≠0 split to separate
    * src0 from the rest, scoring every document. The per-token ratio is
    * an exact-integer division chain, one `ln`, rounded to 1e-9 before
    * the decimal weighted sum (q98 class). */
  private val nbLlrOracle = s"""
      WITH a AS (
        SELECT doc_id, source = 'src0' AS y, doc_id % 5 <> 0 AS tr,
               t, COUNT(*) AS tf
        FROM (SELECT doc_id, source, unnest(${Text.tokensSql("text")}) AS t
              FROM documents)
        GROUP BY 1, 2, 3, 4),
      w AS (SELECT doc_id, tf,
              SUM(CASE WHEN tr AND y THEN tf ELSE 0 END) OVER (PARTITION BY t) AS np,
              SUM(CASE WHEN tr AND NOT y THEN tf ELSE 0 END) OVER (PARTITION BY t) AS nn
            FROM a),
      tot AS (SELECT SUM(CASE WHEN tr AND y THEN tf ELSE 0 END) AS tp,
                     SUM(CASE WHEN tr AND NOT y THEN tf ELSE 0 END) AS tn
              FROM a)
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
        CAST(SUM(CAST(tf AS DECIMAL(18,0)) *
          CAST(ROUND(ln(
            (CAST(np + 1 AS DOUBLE) / CAST(tp + 1048576 AS DOUBLE)) /
            (CAST(nn + 1 AS DOUBLE) / CAST(tn + 1048576 AS DOUBLE))), 9)
          AS DECIMAL(18,9))) AS DOUBLE) AS llr
      FROM w CROSS JOIN tot
      GROUP BY 1 ORDER BY doc_id"""

  val q184 = QueryDef(
    "q184_nb_quality_llr",
    oracle = Some(nbLlrOracle),
    // bench-flagged r9: the scoring family's hot path (VERDICT r8 #6)
    bench = true) { (s, dir) =>
    graft.operators.Retrieval
      .naiveBayesLlr(Tables.load(s, dir, "documents"),
        target = col("source") === "src0",
        train = pmod(col("doc_id"), lit(5)) =!= 0)
      .orderBy("doc_id")
  }

  /** Prototypicality pruning (`Similarity.prototypicalityPrune`,
    * keepFrac=0.5, hardest): per-label integer-grid centroids (the q58
    * contract), cosine-to-own-centroid rank, keep the hard half of every
    * cell. Ranking uses raw doubles (the q38 per-row-fold parity class);
    * the oracle rebuilds the centroid list with the identical grid mean
    * and the same ASC/vec_id tie order. */
  val q183 = QueryDef(
    "q183_prototypicality_prune",
    oracle = Some {
      val keep = s"CAST('${0.5}' AS DOUBLE)"
      val dotC =
        "list_sum(list_transform(list_zip(e.embedding, c.cent), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"
      val normE = "sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))"
      val normC = "sqrt(list_sum(list_transform(c.cent, v -> CAST(v AS DOUBLE)*CAST(v AS DOUBLE))))"
      s"""
      WITH cs AS (
        SELECT label, pos,
          CAST(SUM(${Compat.roundToLongSql("CAST(v AS DOUBLE) * 10000000.0")}) AS DOUBLE) / 10000000.0 / COUNT(*) AS cm
        FROM (SELECT label, unnest(embedding) AS v,
                generate_subscripts(embedding, 1) AS pos FROM embeddings)
        GROUP BY 1, 2),
      c AS (SELECT label, list(cm ORDER BY pos) AS cent FROM cs GROUP BY 1),
      n AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1),
      s AS (SELECT e.vec_id, e.label,
              $dotC / ($normE * $normC) AS cos
            FROM embeddings e JOIN c USING (label)),
      r AS (SELECT vec_id, label, cos,
              ROW_NUMBER() OVER (PARTITION BY label ORDER BY cos ASC, vec_id) AS rk
            FROM s)
      SELECT r.vec_id, r.label, CAST(rk AS BIGINT) AS keep_rank,
             ROUND(cos, 6) AS cos6
      FROM r JOIN n USING (label)
      WHERE rk <= CEIL($keep * n.n)
      ORDER BY label, keep_rank"""
    }) { (s, dir) =>
    Similarity.prototypicalityPrune(Tables.load(s, dir, "embeddings"),
        keepFrac = 0.5, hardest = true)
      .orderBy("label", "keep_rank")
  }

  /** Temperature mixture sampling (`Curation.temperatureSample`, α=0.3,
    * T=150): n^α share flattening with the deterministic md5-uniform
    * keep filter. The oracle re-derives pow via `Compat.roundSql` (libm
    * ulp + Spark round semantics), α and T as exact shortest-repr double
    * literals (a bare 0.3 in DuckDB is a DECIMAL — a different value). */
  val q181 = QueryDef(
    "q181_temperature_sample",
    oracle = Some {
      val alphaLit = s"CAST('${0.3}' AS DOUBLE)"
      val tLit = s"CAST('${150.0}' AS DOUBLE)"
      s"""
      WITH n AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
      w AS (SELECT source, n, CAST(${Compat.roundSql(
        s"pow(CAST(n AS DOUBLE), $alphaLit)", 9)} AS DECIMAL(28,9)) AS w FROM n),
      tw AS (SELECT SUM(w) AS tw FROM w),
      r AS (SELECT source, ${Compat.roundSql(
        s"LEAST(CAST(1 AS DOUBLE), $tLit * (CAST(w AS DOUBLE) / CAST(tw.tw AS DOUBLE)) / n)",
        9)} AS rate
            FROM w CROSS JOIN tw)
      SELECT d.doc_id, d.source, CAST(r.rate AS DOUBLE) AS rate
      FROM documents d JOIN r USING (source)
      WHERE ${Rand.portableUniformSql(0, "CAST(d.doc_id AS STRING)")} < CAST(r.rate AS DOUBLE)
      ORDER BY d.doc_id"""
    }) { (s, dir) =>
    Curation.temperatureSample(Tables.load(s, dir, "documents"),
        alpha = 0.3, targetTotal = 150)
      .orderBy("doc_id")
  }

  /** HTML boilerplate extraction (`Text.stripHtml/htmlTitle/
    * htmlLinkCount`): deterministic synthetic HTML wrapped around real
    * corpus text (the q99 injection pattern — script with entities, a
    * multi-line comment, doc_id-dependent link counts, entity-bearing
    * tail), then visible-text extraction, title, link density, and
    * cleaned length/head. Patterns live in the Java-regex ∩ RE2 common
    * subset ((?is) flags; explicit whitespace class — `\\s` differs
    * between engines); pure map-side column work. */
  val q180 = QueryDef(
    "q180_html_extract",
    oracle = Some {
      val html = "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || " +
        "' &amp; co</title><style>p {color: red}</style></head><body>" +
        "<script type=\"text/js\">var i = 0; while (i &lt; 3) { i += 1; }</script>" +
        "<!-- nav" + "\n" + "boilerplate --><p>' || text || '</p>' || " +
        "repeat('<a href=\"http://example.com/p\">link</a>', CAST(doc_id % 4 AS INT)) || " +
        "'<div>tail &#39;q&#39; &lt;b&gt;</div></body></html>'"
      s"""
      WITH h AS (SELECT doc_id, $html AS page FROM documents)
      SELECT doc_id,
        ${Text.htmlTitleSql("page")} AS title,
        CAST(${Text.htmlLinkCountSql("page")} AS INT) AS n_links,
        CAST(len(${Text.stripHtmlSql("page")}) AS INT) AS clean_len,
        substring(${Text.stripHtmlSql("page")}, 1, 80) AS head
      FROM h ORDER BY doc_id"""
    }) { (s, dir) =>
    val link = lit("<a href=\"http://example.com/p\">link</a>")
    val page = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit(" &amp; co</title><style>p {color: red}</style></head><body>" +
        "<script type=\"text/js\">var i = 0; while (i &lt; 3) { i += 1; }</script>" +
        "<!-- nav\nboilerplate --><p>"),
      col("text"), lit("</p>"),
      concat_ws("", array_repeat(link, pmod(col("doc_id"), lit(4)).cast("int"))),
      lit("<div>tail &#39;q&#39; &lt;b&gt;</div></body></html>"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), page.as("page"))
      .select(col("doc_id"),
        Text.htmlTitle(col("page")).as("title"),
        Text.htmlLinkCount(col("page")).as("n_links"),
        length(Text.stripHtml(col("page"))).as("clean_len"),
        substring(Text.stripHtml(col("page")), 1, 80).as("head"))
      .orderBy("doc_id")
  }

  /** PCA top-component projections (`ml/Pca`): the exact d×d Gram pass,
    * 8 driver-side power iterations on a 1e-9 decimal lattice
    * (normalization by max-|component| — no sqrt-of-sum whose addition
    * order could differ), then a map-side projection with the component
    * as plan literals. The oracle unrolls the SAME iterations in SQL —
    * exact decimal matvec, `Compat.exactDoubleSql` conversions, the
    * `roundSql` mirror for the normalize step — so the hash match pins
    * the whole train-then-project chain bit-for-bit, not just the
    * projection. */
  val q177 = QueryDef(
    "q177_pca_power",
    oracle = Some(pcaOracleSql(dim = 64, iters = 8))) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    val comp = graft.ml.Pca.trainTopComponent(emb, col("embedding"), dim = 64, iterations = 8)
    emb.select(col("vec_id"),
        graft.ml.Pca.project(col("embedding"), comp).as("score"))
      .orderBy("vec_id")
  }

  /** Each `v$k` reads `w$k` twice (directly and through `m$k`), and
    * DuckDB inlines a CTE that is not MATERIALIZED into every reader, so
    * without the two MATERIALIZED marks the Gram CTE `gu` would be
    * re-evaluated on the order of 2^iters times. */
  private def pcaOracleSql(dim: Int, iters: Int): String = {
    val prod = Compat.roundSql(
      "CAST(embedding[a.i] AS DOUBLE) * CAST(embedding[b.i] AS DOUBLE)", 9)
    def step(k: Int) = s""",
      w$k AS MATERIALIZED (SELECT gf.i AS dim, SUM(CAST(gf.g * v${k - 1}.v AS DECIMAL(38,18))) AS w
              FROM gf JOIN v${k - 1} ON v${k - 1}.dim = gf.j GROUP BY 1),
      m$k AS (SELECT MAX(ABS(w)) AS m FROM w$k),
      v$k AS (SELECT dim, CAST(${Compat.roundSql(
        s"${Compat.exactDoubleSql("w")} / ${Compat.exactDoubleSql("m")}", 9)}
              AS DECIMAL(10,9)) AS v
              FROM w$k CROSS JOIN m$k)"""
    s"""
      WITH idx AS (SELECT unnest(generate_series(1, $dim)) AS i),
      gu AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
               SUM(CAST($prod AS DECIMAL(18,9))) AS g
             FROM embeddings CROSS JOIN idx a CROSS JOIN idx b
             WHERE b.i >= a.i GROUP BY 1, 2),
      gf AS (SELECT i, j, g FROM gu UNION ALL SELECT j, i, g FROM gu WHERE i <> j),
      v0 AS (SELECT i AS dim, CAST(1 AS DECIMAL(10,9)) AS v FROM idx)${(1 to iters).map(step).mkString}
      SELECT e.vec_id, CAST(SUM(${Compat.roundToLongSql(
        "CAST(e.embedding[vf.dim] AS DOUBLE) * CAST(vf.v AS DOUBLE) * 1e9")} ) AS DOUBLE) / 1e9 AS score
      FROM embeddings e CROSS JOIN v$iters vf
      GROUP BY 1 ORDER BY vec_id"""
  }

  /** DSIR importance weights (`Curation.dsirWeights`): unigram hashed
    * bag-of-tokens log importance ratio of the English subset vs the
    * whole corpus, add-one smoothed over 4096 md5-16 dims. One tokenize
    * pass; the per-dim model aggregates the same pass and broadcasts
    * back — text never shuffles, and the plan scans `documents` once
    * (PlanSpec). */
  private val dsirOracle = s"""
      WITH tok AS (SELECT doc_id, lang = 'en' AS is_t,
                     unnest(${Text.tokensSql("text")}) AS t FROM documents),
      f AS (SELECT doc_id, is_t, ${graft.ml.Features.dimSql("t", 4096)} AS dim,
              COUNT(*) AS tf
            FROM tok GROUP BY 1, 2, 3),
      c AS (SELECT dim, SUM(tf) AS c_r,
              SUM(CASE WHEN is_t THEN tf ELSE 0 END) AS c_t
            FROM f GROUP BY 1),
      tot AS (SELECT SUM(c_r) AS tot_r, SUM(c_t) AS tot_t FROM c),
      lr AS (SELECT dim,
          CAST(ROUND(ln(CAST(c_t + 1 AS DOUBLE) / CAST(tot_t + 4096 AS DOUBLE)), 9) AS DECIMAL(18,9))
        - CAST(ROUND(ln(CAST(c_r + 1 AS DOUBLE) / CAST(tot_r + 4096 AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lr
        FROM c CROSS JOIN tot)
      SELECT f.doc_id, ${Compat.exactDoubleSql("SUM(CAST(f.tf AS DECIMAL(18,0)) * lr.lr)")} AS w
      FROM f JOIN lr USING (dim)
      GROUP BY 1 ORDER BY doc_id"""

  val q178 = QueryDef(
    "q178_dsir_weights",
    oracle = Some(dsirOracle)) { (s, dir) =>
    Curation.dsirWeights(Tables.load(s, dir, "documents"),
        target = col("lang") === "en", dims = 4096)
      .orderBy("doc_id")
  }

  /** EXACT heavy hitters via the two-pass Misra–Gries sketch
    * (`Sketches.heavyHitters`, k=30): every token with frequency
    * strictly above n/31, with its exact count. The sketch pass reduces
    * the token stream to ONE ≤30-entry summary (sketch-width exchange,
    * never vocab-width — for n-gram/URL domains the vocabulary is the
    * corpus); the MG guarantee makes the candidate set a superset of the
    * truth, and the exact recount + threshold make the OUTPUT
    * deterministic even though the sketch's marginal entries are not.
    * k=30 sits under the fixture's 31-token vocabulary, so the sketch's
    * decrement path actually runs here. The oracle is the direct
    * full-groupBy HAVING — the hash match proves the two-pass plan loses
    * nothing. */
  val q207 = QueryDef(
    "q207_heavy_hitters",
    oracle = Some(s"""
      WITH tok AS (SELECT unnest(${Text.tokensSql("text")}) AS t FROM documents),
      tot AS (SELECT COUNT(*) AS n FROM tok)
      SELECT t AS token, COUNT(*) AS cnt
      FROM tok CROSS JOIN tot
      GROUP BY t, n
      HAVING COUNT(*) * 31 > n
      ORDER BY token""")) { (s, dir) =>
    val toks = Tables.load(s, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("token"))
    Sketches.heavyHitters(toks, col("token"), k = 30).orderBy("token")
  }

  /** ROUGE-2 per (candidate, reference) pair (`Eval.rougeN`): clipped
    * bigram overlap with precision / recall / F1, consecutive documents
    * paired (doc 2i is the candidate, 2i+1 the reference). Every score
    * is ONE division of exact integers — no rounding grid anywhere. */
  val q208 = QueryDef(
    "q208_rouge2",
    oracle = Some(s"""
      WITH cand AS (SELECT doc_id // 2 AS pair_id, text AS ct
                    FROM documents WHERE doc_id % 2 = 0),
      ref AS (SELECT doc_id // 2 AS pair_id, text AS rt
              FROM documents WHERE doc_id % 2 = 1),
      pairs AS (SELECT cand.pair_id, ct, rt FROM cand JOIN ref USING (pair_id)),
      cg AS (SELECT pair_id, g, COUNT(*) AS cc
             FROM (SELECT pair_id, unnest(${Text.ngramsSql("ct", 2)}) AS g FROM pairs)
             GROUP BY 1, 2),
      rg AS (SELECT pair_id, g, COUNT(*) AS rc
             FROM (SELECT pair_id, unnest(${Text.ngramsSql("rt", 2)}) AS g FROM pairs)
             GROUP BY 1, 2),
      ov AS (SELECT COALESCE(cg.pair_id, rg.pair_id) AS pair_id,
               SUM(LEAST(COALESCE(cc, 0), COALESCE(rc, 0))) AS n_overlap,
               SUM(COALESCE(cc, 0)) AS n_cand,
               SUM(COALESCE(rc, 0)) AS n_ref
             FROM cg FULL JOIN rg ON cg.pair_id = rg.pair_id AND cg.g = rg.g
             GROUP BY 1)
      SELECT p.pair_id,
        CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
        CAST(COALESCE(n_cand, 0) AS BIGINT) AS n_cand,
        CAST(COALESCE(n_ref, 0) AS BIGINT) AS n_ref,
        CASE WHEN COALESCE(n_cand, 0) > 0
          THEN CAST(COALESCE(n_overlap, 0) AS DOUBLE) / n_cand END AS prec,
        CASE WHEN COALESCE(n_ref, 0) > 0
          THEN CAST(COALESCE(n_overlap, 0) AS DOUBLE) / n_ref END AS recall,
        CASE WHEN COALESCE(n_cand, 0) + COALESCE(n_ref, 0) > 0
          THEN 2.0 * COALESCE(n_overlap, 0) / (COALESCE(n_cand, 0) + COALESCE(n_ref, 0)) END AS f1
      FROM pairs p LEFT JOIN ov USING (pair_id)
      ORDER BY pair_id""")) { (s, dir) =>
    val d = Tables.load(s, dir, "documents")
    val cand = d.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(shiftright(col("doc_id"), 1).as("pair_id"), col("text").as("ct"))
    val ref = d.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select(shiftright(col("doc_id"), 1).as("pair_id"), col("text").as("rt"))
    Eval.rougeN(cand.join(ref, "pair_id"), "pair_id", "ct", "rt", n = 2)
      .withColumnRenamed("precision", "prec")
      .orderBy("pair_id")
  }

  /** Margin-based bitext mining (`Similarity.marginMining`, ratio margin,
    * k=4, τ=1.05): even vec_ids mine against odd vec_ids — for each
    * source the highest-margin candidate survives iff its cosine beats
    * the average of both local neighbourhoods. The oracle re-derives
    * both top-k passes, both density normalizers, the margin, and the
    * argmax from the all-pairs ground truth (q38 class: the per-row
    * fold cosines are bit-identical cross-engine; avgK rounds to 1e-9
    * and sums as exact decimal, so it is order-free). */
  val q209 = QueryDef(
    "q209_margin_mining",
    oracle = Some(s"""
      WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
      t AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
      scored AS (
        SELECT s.vec_id AS sid, t.vec_id AS tid,
          list_sum(list_transform(list_zip(s.embedding, t.embedding),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(s.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
           * sqrt(list_sum(list_transform(t.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS c
        FROM s CROSS JOIN t),
      fwd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY sid ORDER BY c DESC, tid) AS rnk FROM scored),
      bwd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY tid ORDER BY c DESC, sid) AS rnk FROM scored),
      asrc AS (SELECT sid, CAST(SUM(CAST(ROUND(c, 9) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS a
               FROM fwd WHERE rnk <= 4 GROUP BY sid),
      atgt AS (SELECT tid, CAST(SUM(CAST(ROUND(c, 9) AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS a
               FROM bwd WHERE rnk <= 4 GROUP BY tid),
      m AS (SELECT f.sid, f.tid, f.c / ((asrc.a + atgt.a) / 2) AS mg
            FROM fwd f JOIN asrc USING (sid) JOIN atgt USING (tid)
            WHERE f.rnk <= 4),
      best AS (SELECT sid, tid, mg,
                 ROW_NUMBER() OVER (PARTITION BY sid ORDER BY mg DESC, tid) AS r
               FROM m)
      SELECT sid AS src_id, tid AS tgt_id, ROUND(mg, 6) AS margin6
      FROM best WHERE r = 1 AND mg > 1.05
      ORDER BY src_id""")) { (s, dir) =>
    val emb = Tables.load(s, dir, "embeddings")
    Similarity.marginMining(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        emb.filter(pmod(col("vec_id"), lit(2)) === 1),
        k = 4, threshold = 1.05)
      .select(col("src_id"), col("tgt_id"), round(col("margin"), 6).as("margin6"))
      .orderBy("src_id")
  }
}
