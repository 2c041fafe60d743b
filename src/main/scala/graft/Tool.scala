package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{ExplainMode, GenerateExec, SortExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.plans.PlanShape
import graft.queries.Registry

/** Local measurement and fixture tools, one entry point over one
  * `Session.local(Session.cpus(32))`. Not part of the Bench/Verify/SparkEntry
  * contract.
  *
  * Usage: runMain graft.Tool <subcommand> args... (see `usage`)
  */
object Tool {
  private val usage: String =
    """usage: graft.Tool <subcommand> args...
      |  profile <sfDir> <nRuns> <query,query,...>  per-stage metrics of each query's last run
      |  plans <sfDir> <outDir> [query,query,...]   formatted physical plan per query (default: bench set)
      |  audit <sfDir> <outFile>                    plan-shape TSV of every registry query
      |  scale <communities|ccsampled> <dataDir>    timed scale run of an all-pairs-oracle composite
      |  skew [nDocs]                               window form vs skew-safe twin on a hot-token corpus
      |  gen <outDir> <sf> [filesPerTable]          synthetic fixtures (GenData)""".stripMargin

  def main(args: Array[String]): Unit = {
    val run = try command(args.toSeq) catch { case e: IllegalArgumentException =>
      System.err.println(e.getMessage); sys.exit(2)
    }
    val spark = Session.local(Session.cpus(32))
    try run(spark) finally spark.stop()
  }

  /** The subcommand `args` names, ready to run on a session; throws
    * `IllegalArgumentException(usage)` for anything else. */
  def command(args: Seq[String]): SparkSession => Unit = {
    def names(csv: String) = csv.split(",").filter(_.nonEmpty).toSeq
    args match {
      case Seq("profile", sfDir, runs, qs) => profile(_, sfDir, runs.toInt, names(qs))
      case Seq("plans", sfDir, outDir) => plans(_, sfDir, outDir, Registry.benchSet.map(_.name))
      case Seq("plans", sfDir, outDir, qs) => plans(_, sfDir, outDir, names(qs))
      case Seq("audit", sfDir, out) => audit(_, sfDir, out)
      case Seq("scale", what @ ("communities" | "ccsampled"), dir) => scale(_, what, dir)
      case Seq("skew") => skew(_, 24000000L)
      case Seq("skew", n) => skew(_, n.toLong)
      case Seq("gen", outDir, sf) => GenData.generate(_, outDir, sf.toDouble, 1)
      case Seq("gen", outDir, sf, files) => GenData.generate(_, outDir, sf.toDouble, files.toInt)
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  /** Wall clock per run, then per stage of the last run: task-time sum,
    * shuffle read/write, input, spill, task count and the longest task. */
  private def profile(spark: SparkSession, sfDir: String, runs: Int, names: Seq[String]): Unit = {
    val metrics = new StageMetrics(spark.sparkContext)
    names.foreach { name =>
      val fn = Registry.queries(name)
      def timed(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        try (System.nanoTime() - t0) / 1e9 finally spark.catalog.clearCache()
      }
      timed() // untimed warmup (codegen + JIT), as in Bench
      val walls = (1 to runs).map { _ => metrics.reset(); timed() }
      val stages = metrics.stages()
      println(s"##### $name walls=${walls.map(w => f"$w%.3f").mkString(",")}")
      println(f"  stages=${stages.size} taskTimeSum=${stages.map(_.taskMs).sum}ms")
      stages.foreach { r =>
        println(f"  stage ${r.id}%4d wall=${r.wallMs}%5dms task=${r.taskMs}%6dms n=${r.tasks}%3d " +
          f"maxTask=${r.maxTaskMs}%6dms in=${r.input / 1024}%7dK sr=${r.shuffleRead / 1024}%6dK " +
          f"sw=${r.shuffleWrite / 1024}%6dK spill=${r.spill / 1024}%5dK  ${r.name}%s")
      }
    }
  }

  /** Pre-checkpoint handles: the inner frame a query builds before a
    * `localCheckpoint` truncates its lineage. The checkpointed query's own
    * plan shows only the scan of the checkpoint, not the build it hides. */
  private val inner: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q42_calibrator_shifts_inner" ->
      ((s, dir) => graft.queries.Physics.q42Inner(s, dir)),
    "q183_prototypicality_prune_inner" ->
      ((s, dir) => graft.operators.Similarity.prototypicalityRanked(
        graft.core.Tables.load(s, dir, "embeddings"), hardest = true,
        cellCol = "label", idCol = "vec_id", vecCol = "embedding")))

  /** `<outDir>/<query>.txt` per query or `inner` handle: the FORMATTED plan
    * before execution. Broadcast choices follow file-size statistics, so
    * plans of two scale factors diff with `tools/plandiff.py`. */
  private def plans(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val fn = inner.getOrElse(n, Registry.queries(n))
      val plan =
        try fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
      Files.writeString(Paths.get(outDir, s"$n.txt"), plan)
      spark.catalog.clearCache()
    }
    println(s"[plans] ${names.size} plans -> $outDir")
  }

  /** One TSV row per registry query, counting the plan features that decide
    * behaviour at scale: shuffles by partitioning, broadcasts, join
    * strategies, windows (global ones hold every row in one task),
    * generates, parquet scans and sorts. */
  private def audit(spark: SparkSession, sfDir: String, out: String): Unit = {
    val header = "query\texch_hash\texch_range\texch_rr\texch_single\tbcast\tsmj\tshj\tbhj\tbnlj\tcartesian\twindows\tglobal_window\tgenerate\tscans\tsort"
    val rows = Registry.all.map { d =>
      try {
        val s = PlanShape(d.fn(spark, sfDir))
        def exch(p: Partitioning => Boolean) = s.shuffles.count(e => p(e.outputPartitioning))
        Seq(d.name, exch(_.isInstanceOf[HashPartitioning]), exch(_.isInstanceOf[RangePartitioning]),
          exch(_.isInstanceOf[RoundRobinPartitioning]), exch(_ == SinglePartition),
          s.count[BroadcastExchangeExec], s.count[SortMergeJoinExec], s.count[ShuffledHashJoinExec],
          s.count[BroadcastHashJoinExec], s.count[BroadcastNestedLoopJoinExec],
          // a WindowGroupLimit is the rank pre-filter Spark plants below a window
          s.count[CartesianProductExec], s.windows.size + s.count[WindowGroupLimitExec],
          s.globalWindows.size, s.count[GenerateExec], s.scans.size, s.count[SortExec]).mkString("\t")
      } catch { case e: Throwable => s"${d.name}\tPLAN_FAILED: ${e.getMessage.take(80)}" }
      finally spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(out), (header +: rows).mkString("", "\n", "\n"))
    println(s"[audit] ${rows.size} queries -> $out")
  }

  /** Timed runs (results → SCALE.md) of composites whose DuckDB oracles are
    * all-pairs by design, with the plan shape of q193's scorer or of
    * q200's estimator:
    *  - `communities`: q193 on its scale scorer — cellTopK (IVF cells = the
    *    label quantizer, every vector a query) → mutual-kNN → 3 rounds of
    *    label propagation;
    *  - `ccsampled`: q200's wedge-sampling clustering coefficient (k=16) on
    *    the q133 co-order part graph.
    * The whole case is timed: label propagation materializes inside its
    * loop. Plan counts come from the unexecuted plan. */
  private def scale(spark: SparkSession, what: String, dir: String): Unit = {
    def counts(df: DataFrame): String = {
      val s = PlanShape(df)
      s"plan[SMJ=${s.count[SortMergeJoinExec]} BHJ=${s.count[BroadcastHashJoinExec]} " +
        s"SHJ=${s.count[ShuffledHashJoinExec]} exch=${s.shuffles.size} window=${s.windows.size}]"
    }
    val t0 = System.nanoTime()
    def report(rows: Long, planned: DataFrame): Unit =
      println(f"[scale-run] $what rows=$rows%d  wall=${(System.nanoTime() - t0) / 1e9}%.1f s  ${counts(planned)}")
    if (what == "communities") {
      val emb = graft.core.Tables.load(spark, dir, "embeddings")
      val queries = emb.select(col("vec_id").as("qid"),
        col("embedding").as("qvec"), col("label").as("qcell"))
      val top = graft.operators.Similarity.cellTopK(
        emb, queries, k = 3, cell = "label", qcell = "qcell",
        scanParallelism = spark.sparkContext.defaultParallelism * 8)
      val edges = graft.operators.Similarity.mutualKnnEdges(top)
      report(graft.operators.Graph.labelPropagation(edges, iterations = 3).count(), top)
    } else {
      val li = graft.core.Tables.load(spark, dir, "lineitem")
      val a = li.select(col("l_orderkey").as("k"), col("l_partkey").as("a"))
      val b = li.select(col("l_orderkey").as("k"), col("l_partkey").as("b"))
      val edges = a.join(b, "k").filter(col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
      val cc = graft.operators.Graph.clusteringCoefficientSampled(edges, samplesPerVertex = 16)
      report(cc.count(), cc)
    }
  }

  /** The skew-safe twin against the window form of `naiveBayesLlr` on a
    * corpus where one token ("the") is in every document. The window form
    * must hold that token's whole group in one task; the twin collapses it
    * map-side and spreads the probe rows over a salted join key (explicit,
    * because AQE's skew-join rule only matches joins of bare shuffle
    * stages). Wall time on a shared host is noisy, so the witness is the
    * longest task: on a large cluster a stage lasts as long as that task. */
  private def skew(spark: SparkSession, n: Long): Unit = {
    val metrics = new StageMetrics(spark.sparkContext)
    // the other tokens spread over ~50k values, so only the hot group is large
    val docs = spark.range(n).repartition(spark.sparkContext.defaultParallelism)
      .select(col("id").as("doc_id"),
        concat_ws(" ", lit("the"), concat(lit("w"), pmod(col("id"), lit(50021)))).as("text"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    docs.count() // build the fixture outside the measured runs
    val target = pmod(col("doc_id"), lit(3)) === 0
    val train = pmod(col("doc_id"), lit(5)) =!= 0
    for (round <- 1 to 2; skewSafe <- Seq(false, true)) {
      metrics.reset()
      val t0 = System.nanoTime()
      val rows = graft.operators.Retrieval.naiveBayesLlr(docs, target, train, skewSafe = skewSafe).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val stages = metrics.stages()
      val label = s"${if (skewSafe) "skewSafe" else "window"}#$round"
      val maxTask = stages.map(_.maxTaskMs).maxOption.getOrElse(0L) / 1000.0
      val perStage = stages.map(s => f"s${s.id}=${s.maxTaskMs / 1000.0}%.1f").mkString(" ")
      println(f"[skew] $label%-12s wall=$sec%7.2f s  maxTask=$maxTask%7.2f s  ($rows rows, n=$n)  [$perStage]")
    }
    docs.unpersist()
  }
}
