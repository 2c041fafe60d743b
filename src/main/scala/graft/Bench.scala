package graft

import graft.queries.Registry

/** Headline benchmark: times the bench-flagged registry queries on
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus(32)
    val spark = Session.local(cpus)

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        // noop sink forces full materialization of every column (count()
        // would let Spark prune the plan down to a row count).
        Registry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      } finally {
        // backstop: no registry query leaves a cached relation (PlanSpec's
        // registry sweep checks it), but one that did would turn into GC
        // pauses landing on whichever query runs next
        spark.catalog.clearCache()
      }
      (System.nanoTime() - t0) / 1e9
    }

    // SPARK_GRAFT_BENCH_NAMES (comma-separated) overrides the set for
    // ad-hoc scale measurements; the driver's headline set is unchanged
    // when unset, keeping round-over-round numbers comparable.
    val names = sys.env.get("SPARK_GRAFT_BENCH_NAMES")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(Registry.benchSet.map(_.name))
    // Untimed warmup of every query: codegen compile + JIT of the large
    // generated methods (minhash, simhash) cost seconds on first run and
    // are one-time costs irrelevant to steady-state throughput at scale.
    names.foreach(runOnce)
    // Best of two timed runs: the bench host is shared, and a single
    // sample conflates plan cost with neighbor noise (round-1 driver run
    // measured 6-15x the local steady state on identical plans).
    val first = names.map(runOnce)
    val second = names.map(runOnce)
    val runs = names.zip(first.zip(second))
    val results = runs.map { case (n, (t1, t2)) =>
      n -> (if (t1 < 0 || t2 < 0) math.max(t1, t2) else math.min(t1, t2))
    }
    val failed = runs.collect { case (n, (t1, t2)) if t1 < 0 || t2 < 0 => n }
    println(jsonLine(results, failed, sfDir, cpus))
    spark.stop()
  }

  /** Bench's one JSON line. `failed` lists each query with a timed run that
    * threw, so a failure never vanishes from `value` unseen; the keys
    * before it keep their original bytes. "cpus" echoes the core count the
    * session ran with, so a scaling harness can confirm SPARK_GRAFT_CPUS
    * took effect (r9 flagged suspect_cpus_ignored on flat 8-vs-32 ratios). */
  def jsonLine(results: Seq[(String, Double)], failed: Seq[String], sfDir: String,
      cpus: Int): String = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus,"failed":$fs}"""
  }
}
