package perfbench

import graft.functions.{HashKernels, Text}
import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LLM-data curation chain: quality rules → exact dedup → MinHash-LSH
  * near-dup groups (one representative kept per group) → benchmark
  * decontamination → curated corpus written as parquet.
  *
  * The thresholds are mirrored in reference.py. */
final class CurationChain(tracer: Tracer, docs: DataFrame,
                          heldout: DataFrame, mutate: String) {
  import CurationChain._

  /** Writes the curated corpus to `outDir`; returns the LSH pairs. */
  def run(outDir: String): DataFrame = {
    val scored = tracer.span("functions", "quality") {
      tracer.boundary(docs.withColumn("quality", Text.qualityScore(col("text"))))
    }
    val rules = tracer.span("operators", "gopher_rules") {
      tracer.boundary(Curation.gopherRules(docs).filter(col("passes")).select("doc_id"))
    }
    val filtered = scored.join(rules, "doc_id").filter(col("quality") > MinQuality)
      .drop("quality")
    // consumed by the LSH pass and again by the final write
    val exact0 = tracer.span("operators", "exact_dedup") {
      Dedup.exactDedup(filtered).localCheckpoint()
    }
    val exact = if (mutate != "dedup_row") exact0
                else exact0.filter(col("doc_id") =!= exact0.agg(min("doc_id")).head().getLong(0))
    val pairs = tracer.span("operators", "minhash_lsh") {
      Dedup.minhashLshRun(exact, threshold = Threshold).materialize { p =>
        val checkpointed = p.localCheckpoint()
        tracer.gauge("operators.lsh_candidate_pairs", PlanMetrics.lshCandidatePairs(p))
        checkpointed
      }
    }
    val comps = tracer.span("operators", "components") {
      tracer.boundary(Dedup.components(pairs))
    }
    val kept = exact.join(comps, exact("doc_id") === comps("id"), "left")
      .filter(col("component").isNull || col("component") === col("doc_id"))
      .drop("id", "component")
    val contaminated = tracer.span("operators", "contamination") {
      tracer.boundary(Curation.contamination(kept, heldout)
        .filter(col("hit_frac") > MaxHitFrac).select("doc_id"))
    }
    tracer.span("write", "curated") {
      kept.join(contaminated, Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(outDir)
    }
    pairs
  }

  /** Kernel-only projections over the corpus, replicated to at least
    * `KernelRows` rows, into a noop sink: median ns/row of each kernel over
    * `reps` passes (traced run only). */
  def kernelNsPerRow(reps: Int): Map[String, Double] = {
    val copies = math.max(1L, (KernelRows + docs.count() - 1) / docs.count())
    val texts = docs.select(col("text"), explode(sequence(lit(1L), lit(copies))).as("copy"))
      .select("text").localCheckpoint()
    val hashes = texts.select(transform(array_distinct(Text.shingles(col("text"), 3)),
      s => xxhash64(s)).as("bh")).filter(size(col("bh")) > 0).localCheckpoint()
    val n = texts.count().toDouble
    val nh = hashes.count().toDouble
    def time(frame: DataFrame, rows: Double, c: org.apache.spark.sql.Column): Double = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        frame.select(c).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / rows
      }
      ts.sorted.apply(ts.size / 2)
    }
    tracer.span("functions", "kernels") {
      Map(
        "functions.minhash_ns_per_row" -> time(hashes, nh, HashKernels.minhashesCol(col("bh"), 64)),
        "functions.token_count_ns_per_row" -> time(texts, n, Text.tokenCount(col("text"))),
        "functions.quality_ns_per_row" -> time(texts, n, Text.qualityScore(col("text"))))
    }
  }
}

object CurationChain {
  val MinQuality = 0.5
  val Threshold = 0.8
  val MaxHitFrac = 0.15
  val KernelRows = 100000L
}
