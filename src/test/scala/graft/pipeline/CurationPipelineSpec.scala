package graft.pipeline

import graft.SparkSpec
import graft.functions.{Seeds, Text}
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CacheBridge

/** The LLM training-data curation slice end-to-end over the real sf0.001
  * documents table: quality/language filtering → exact dedup → MinHash-LSH
  * near-dup pairs → connected components → representative selection →
  * fold split, with stages materialized through the versioned Pipeline.
  * The data-pipeline analog of `TemplateAnalysisSpec` — it pins that the
  * curation operators COMPOSE (each is separately oracled by q30-q37/q49/
  * q67), that the dedup stages leave no cached relation behind, and that the
  * kept-set is reproducible under repartitioning. */
class CurationPipelineSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("filter → dedup → cluster → select → split composes over real documents") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-curation").toString
    val pipe = new Pipeline(spark, tmp)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val total = docs.count()

    // --- quality + language gate (q30-q32 operators), checkpointed
    val gated = pipe.stage("gate", "v1") {
      docs
        .withColumn("lang", Text.langId(col("text")))
        .withColumn("quality", Text.qualityScore(col("text")))
        .filter(col("quality") > 0.3 && Text.tokenCount(col("text")) >= 5)
    }
    val nGated = gated.count()
    assert(nGated > 0 && nGated < total, "gate must drop some but not all docs")

    // --- exact dedup keeps the minimum id per content digest
    val exact = Dedup.exactDedup(gated)
    assert(exact.count() <= nGated)

    // --- near-dup pairs → clusters → keep the representative per cluster;
    //     the LSH shingle table is a checkpoint, so no cache is left behind
    val run = Dedup.minhashLshRun(exact, shingleN = 3, k = 64,
      rowsPerBand = 4, threshold = 0.6)
    val (clusters, nPairs) = run.materialize { pairs =>
      val p = pairs.localCheckpoint()
      (Dedup.components(p).localCheckpoint(), p.count())
    }
    assert(CacheBridge.noCachedRelations(spark), "dedup caches must not leak")
    val reps = clusters.groupBy("component").agg(min("id").as("keep_id"))
    val dropIds = clusters.join(reps, clusters("id") === reps("keep_id"), "left_anti")
      .select(col("id").as("doc_id"))
    val kept = exact.join(dropIds, Seq("doc_id"), "left_anti")
    val nKept = kept.count()
    assert(nKept == exact.count() - dropIds.count())
    if (nPairs > 0) assert(nKept < exact.count(), "near-dups must drop members")

    // --- fold split on the kept set: stable under repartitioning
    val folds = kept.withColumn("fold", Seeds.fold(5, col("doc_id").cast("string")))
    val byFold = folds.groupBy("fold").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byFold.keySet.subsetOf((0 until 5).toSet) && byFold.values.sum == nKept)
    val again = kept.repartition(13)
      .withColumn("fold", Seeds.fold(5, col("doc_id").cast("string")))
      .groupBy("fold").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(again == byFold, "fold assignment must be partition-independent")

    // --- the curated set is itself a checkpointed stage; re-run reuses it
    var rebuilt = false
    pipe.stage("curated", "v1") { kept }
    val reread = pipe.stage("curated", "v1") { rebuilt = true; kept }
    assert(!rebuilt && reread.count() == nKept)
  }

  test("decontaminate → derepeat → sample → pack composes with exact accounting") {
    import graft.operators.Curation
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bench = docs.filter(col("doc_id") % 17 === 3)
    val corpus = docs.filter(col("doc_id") % 17 =!= 3)

    // --- benchmark decontamination (q82 operator): drop overlapping docs
    val dirty = Curation.contamination(corpus, bench, n = 3)
      .filter(col("hit_frac") >= 0.5).select("doc_id")
    val clean = corpus.join(dirty, Seq("doc_id"), "left_anti")
    assert(clean.count() == corpus.count() - dirty.count())

    // --- repetition gate (q84 operator); null dup_frac (no 2-grams) keeps
    val keepRep = Curation.repetitionStats(clean, n = 2)
      .filter(coalesce(col("dup_frac") < 0.9, lit(true))).select("doc_id")
    val gated = clean.join(keepRep, Seq("doc_id"), "left_semi")

    // --- deterministic mixture sampling (q85 operator)
    val rates = (0 until 20).map(i => s"src$i" -> 0.7).toMap
    val sampled = Curation.stratifiedSample(gated, rates, "source")
    val ids = sampled.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty && ids.subsetOf(
      gated.select("doc_id").collect().map(_.getLong(0)).toSet))

    // --- sequence packing (q90 operator), checked against an independent
    //     sequential re-simulation of concat-and-chunk in plain Scala
    val budget = 128L
    val packed = Curation.packSequences(sampled, budget)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getBoolean(5)))
    packed.groupBy(_._1).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._2).foreach { case (_, _, nTok, chunkId, straddles) =>
        assert(chunkId == cum / budget)
        assert(straddles == (cum % budget + nTok > budget))
        cum += nTok
      }
    }
    assert(packed.map(_._3).sum ==
      sampled.select(sum(graft.functions.Text.tokenCount(col("text")))).head.getLong(0))
  }

  test("canonicalize → exact-similarity dedup → drift gate → diff audit composes (r4 operators)") {
    import graft.core.Integrity
    import graft.functions.TextKernels
    import graft.operators.{Dedup, Drift}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nDocs = docs.count()

    // --- NFC canonicalization (q141 kernel): the corpus is ASCII, so the
    //     pass must be an exact no-op — proven by checksum equality, the
    //     q142 operator doing real work inside a pipeline
    val canon = docs.withColumn("text", TextKernels.nfcCol(col("text")))
    val csBefore = Integrity.tableChecksum(docs, Seq(col("doc_id"), col("text"))).head()
    val csAfter = Integrity.tableChecksum(canon, Seq(col("doc_id"), col("text"))).head()
    assert(csBefore === csAfter)

    // --- exact-threshold near-dup pairs with guaranteed recall (q145):
    //     prefix filter ≡ brute force, then drop the larger id per pair
    val pairs = Dedup.prefixFilteredJaccardPairs(canon, thresholdNum = 1, thresholdDen = 2)
    val brute = Dedup.blockedJaccardPairs(
      canon.withColumn("k", lit(1)), Seq("k"), threshold = 0.5)
    assert(pairs.select("id_a", "id_b").collect().toSet ===
      brute.select("id_a", "id_b").collect().toSet)
    val kept = canon.join(pairs.select(col("id_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    val nKept = kept.count()
    assert(nKept <= nDocs)

    // --- drift gate (q143): dedup must not shift the length profile much
    val psi = Drift.psi(docs, kept, expr("n_chars div 100")).head().getDouble(0)
    assert(psi >= 0.0 && psi < 0.25, s"dedup shifted the corpus profile: psi=$psi")

    // --- diff audit (q147): the kept set differs from the input by
    //     exactly the dropped ids — nothing changed, nothing added
    val byStatus = Integrity.snapshotDiff(docs, kept, Seq("doc_id"), Seq(col("text")))
      .groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus.getOrElse("removed", 0L) === nDocs - nKept)
    assert(byStatus.getOrElse("unchanged", 0L) === nKept)
    assert(!byStatus.contains("added") && !byStatus.contains("changed"))
  }
}
