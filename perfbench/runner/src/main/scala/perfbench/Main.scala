package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import scala.util.control.NonFatal

/** The benchmark runner, one JVM per run:
  *
  *   perfbench.Main --workload <hep_cold|hep_rehist|curation> --data <dir>
  *     --work <dir> --seconds <s> --trace <0|1> --cores <n> --payload <file>
  *     --out <result.json>
  *
  * It sets up once (input registration, the workload's standing state, one
  * warm-up iteration), then runs iterations until
  * `seconds` have passed. With `--trace 1` it alternates untraced and
  * traced iterations and adds the per-layer metrics. Every iteration's
  * output digest goes into the result file; run.py compares them with the
  * reference. Nothing is printed on stdout. */
object Main {

  /** A finished iteration: what it wrote and the digest of its output,
    * both read after the timer stops. */
  final case class Done(bytesWritten: Long, check: JValue)

  trait Workload {
    /** Register inputs, build the workload's standing state and run one
      * warm-up iteration; returns the warm-up digests. */
    def setup(): Seq[JValue]
    def iteration(i: Int): () => Done
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cores = a("cores").toInt
    require(cores >= 1, s"cores must be a positive integer: $cores")
    val workload = a("workload")
    val work = Paths.get(a("work"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val mutate = sys.env.getOrElse("PERFBENCH_MUTATE", "")
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // one hep iteration generates ~150 distinct classes; at the default
      // 100-entry cache every iteration recompiles most of them, which
      // costs ~30 % of an iteration and most of its run-to-run spread
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, trace)

    val data = a("data")
    val wl: Workload = workload match {
      case "hep_cold" | "hep_rehist" =>
        new HepWorkload(spark, tracer, data, a("payload"), work, workload == "hep_rehist", mutate)
      case "curation" => new CurationWorkload(spark, tracer, data, work, mutate)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    val warmups = wl.setup()
    spark.catalog.clearCache()
    val setupS = (System.nanoTime() - t0) / 1e9

    // timed iterations; in a traced run every other one is traced
    val iterations = scala.collection.mutable.ArrayBuffer.empty[JValue]
    val walls = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Double)]
    val start = System.nanoTime()
    var i = 0
    def count(traced: Boolean) = walls.count(_._1 == traced)
    while (System.nanoTime() - start < seconds * 1e9 || count(false) < 1 || (trace && count(true) < 1)) {
      val traced = trace && i % 2 == 1
      tracer.active = traced
      tracer.iteration = if (traced) i else -1
      val t = System.nanoTime()
      val result = try Right(wl.iteration(i)) catch { case NonFatal(e) => Left(e) }
      val wall = (System.nanoTime() - t) / 1e9
      val done = result.flatMap(f => try Right(f()) catch { case NonFatal(e) => Left(e) })
      tracer.active = false
      spark.catalog.clearCache()
      walls += traced -> wall
      iterations += JObject(
        "index" -> JInt(i), "traced" -> JBool(traced), "wall_s" -> JDouble(wall),
        "error" -> done.fold(e => JString(s"${e.getClass.getName}: ${e.getMessage}"), _ => JNull),
        "bytes_written" -> JLong(done.fold(_ => 0L, _.bytesWritten)),
        "check" -> done.fold(_ => JNull, _.check))
      done.left.foreach(e => e.printStackTrace())
      i += 1
    }

    val layers: JValue =
      if (!trace) JNothing
      else {
        tracer.drain()
        val untraced = walls.filterNot(_._1).map(_._2).toSeq
        val traced = walls.filter(_._1).map(_._2).toSeq
        val extra = wl match {
          case c: CurationWorkload => c.kernels()
          case _ => Map.empty[String, Double]
        }
        tracer.drain()
        val m = Layers.metrics(tracer, traced.size, cores) ++ extra +
          ("trace.overhead_frac" -> (median(traced) / median(untraced) - 1.0))
        Files.write(work.resolve("trace.json"), compact(render(tracer.toJson)).getBytes("UTF-8"))
        JObject(m.toSeq.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }: _*)
      }

    val out = JObject(
      "workload" -> JString(workload),
      "cores" -> JInt(cores),
      "java_version" -> JString(System.getProperty("java.version")),
      "spark_version" -> JString(spark.version),
      "session_s" -> JDouble(sessionS),
      "setup_s" -> JDouble(setupS),
      "warmups" -> JArray(warmups.toList),
      "iterations" -> JArray(iterations.toList),
      "peak_rss_mb" -> JDouble(peakRssMb()),
      "layers" -> layers)
    spark.stop()
    Files.write(Paths.get(a("out")), compact(render(out)).getBytes("UTF-8"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** splitmix64 finalizer; digests below are order-free sums of it. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def digest(xs: Iterable[Long]): JString =
    JString(java.lang.Long.toUnsignedString(xs.foldLeft(0L)(_ + mix(_))))
}

final class HepWorkload(spark: SparkSession, tracer: Tracer, data: String, payload: String,
                        work: Path, rehist: Boolean, mutate: String) extends Main.Workload {
  import Hep._
  private var hep: Hep = _
  private var root: Path = _

  private def histCheck(root: Path, b: Binning): JValue = {
    val rows = spark.read.parquet(root.resolve("hist").toString).collect()
    tracer.gauge("hist.bins", rows.length.toDouble)
    JObject("binning" -> JInt(b.id), "rows" -> JArray(rows.toList.map(r => JArray(List(
      JString(r.getAs[String]("shift")), JString(r.getAs[String]("variable")),
      JInt(r.getAs[Int]("bin")), JInt(r.getAs[Int]("cat_bin")), JLong(r.getAs[Long]("n")),
      JDouble(r.getAs[Double]("sumw")), JDouble(r.getAs[Double]("sumw2")))))))
  }

  def setup(): Seq[JValue] = {
    val events = spark.read.parquet(s"$data/events")
    hep = new Hep(spark, tracer, events, payload, mutate)
    if (rehist) {
      // the standing upstream checkpoints the timed iterations reuse
      root = work.resolve("rehist")
      hep.run(root.toString, Binnings(0), "b0")
      val upstream = histCheck(root, Binnings(0))
      Seq(upstream, iteration(-1)().check)
    } else Seq(iteration(-1)().check)
  }

  def iteration(i: Int): () => Main.Done =
    if (rehist) {
      val b = Binnings(math.floorMod(i, Binnings.size))
      hep.run(root.toString, b, s"b${b.id}-i$i")
      () => Main.Done(Main.dirBytes(root.resolve("hist")), histCheck(root, b))
    } else {
      val iterRoot = work.resolve(s"cold-$i")
      hep.run(iterRoot.toString, Binnings(0), "b0")
      () => {
        try Main.Done(Main.dirBytes(iterRoot), histCheck(iterRoot, Binnings(0)))
        finally Main.deleteTree(iterRoot)
      }
    }
}

final class CurationWorkload(spark: SparkSession, tracer: Tracer, data: String, work: Path,
                             mutate: String) extends Main.Workload {
  private var chain: CurationChain = _
  private var inputRows = 0L

  def setup(): Seq[JValue] = {
    val docs = spark.read.parquet(s"$data/corpus")
    val heldout = spark.read.parquet(s"$data/heldout")
    chain = new CurationChain(tracer, docs, heldout, mutate)
    inputRows = docs.count()
    Seq(check(chain.run(curated.toString), withPairs = true))
  }

  private def curated = work.resolve("curated")

  private def check(lshPairs: DataFrame, withPairs: Boolean): JValue = {
    val kept = spark.read.parquet(curated.toString).select("doc_id").collect().map(_.getLong(0))
    val pairs = lshPairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    tracer.gauge("operators.kept", kept.length.toDouble)
    tracer.gauge("operators.input", inputRows.toDouble)
    tracer.gauge("operators.lsh_pairs", pairs.length.toDouble)
    JObject(List(
      "kept_count" -> JInt(kept.length), "kept_digest" -> Main.digest(kept),
      "pairs_count" -> JInt(pairs.length),
      "pairs_digest" -> Main.digest(pairs.map { case (x, y) => Main.mix(x) + y })) ++
      (if (withPairs) List("pairs" -> JArray(pairs.toList.map { case (x, y) =>
        JArray(List(JLong(x), JLong(y))) })) else Nil))
  }

  def iteration(i: Int): () => Main.Done = {
    val pairs = chain.run(curated.toString)
    () => Main.Done(Main.dirBytes(curated), check(pairs, withPairs = false))
  }

  def kernels(): Map[String, Double] = {
    tracer.active = true
    tracer.iteration = -2
    try chain.kernelNsPerRow(reps = 3) finally tracer.active = false
  }
}

/** Reads SQL metrics off an executed plan, through adaptive query stages. */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  /** Distinct LSH candidate pairs: the output rows of the final
    * `distinct()` over (id_a, id_b) in the MinHash-LSH plan (the partial
    * aggregate before the shuffle emits at least as many rows). */
  def lshCandidatePairs(pairs: DataFrame): Double =
    collect(pairs.queryExecution.executedPlan) {
      case agg: BaseAggregateExec
          if agg.groupingExpressions.map(_.references.map(_.name).mkString) == Seq("id_a", "id_b") &&
            agg.aggregateExpressions.isEmpty =>
        agg.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(Double.MaxValue)
    }.minOption.getOrElse(0.0)
}
