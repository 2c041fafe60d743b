package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{ExplainMode, GenerateExec, SortExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.functions._
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
      |  plans <sfDir> <outDir> [query,query,...]   formatted plan per query and per build execution (default: bench set)
      |  audit <sfDir> <outFile>                    plan-shape TSV of every registry query
      |  scale <communities|ccsampled> <dataDir>    timed scale run of an all-pairs-oracle composite
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
        (System.nanoTime() - t0) / 1e9
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

  /** `<outDir>/<query>.txt` per query: the FORMATTED plan before
    * execution. Broadcast choices follow file-size statistics, so plans of
    * two scale factors diff with `tools/plandiff.py`. A query whose build
    * runs SQL executions (eager checkpoints: the plan above shows only their
    * scans) also gets `<query>.build<N>.txt`, the executed plan of its N-th. */
  private def plans(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val formatted = ExplainMode.fromString("formatted")
    names.foreach { n =>
      val plan =
        try {
          val (df, builds) = PlanShape.executionsDuring(spark)(Registry.queries(n)(spark, sfDir))
          builds.zipWithIndex.foreach { case (qe, i) =>
            Files.writeString(Paths.get(outDir, s"$n.build${i + 1}.txt"), qe.explainString(formatted))
          }
          df.queryExecution.explainString(formatted)
        } catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
      Files.writeString(Paths.get(outDir, s"$n.txt"), plan)
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
}
