package perfbench

import java.nio.file.Paths

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._

import scala.collection.mutable

/** Span recorder for the traced run.
  *
  * A span wraps one call into a library module (its `layer`). Spans nest:
  * a `Pipeline.stage` span holds the calibration/ops/core spans that build
  * the stage. While a span is open its id sits in a Spark local property,
  * so the listener below attributes every Spark job, stage and task the
  * call triggers to the innermost open span.
  *
  * Spark only builds plans when a library function is called; the work
  * runs at the next action. While tracing is active, `boundary` therefore
  * materializes a layer's output where the call returns (an eager local
  * checkpoint), so the work lands in the span that asked for it. While it
  * is not, every method here is a pass-through. The listener is installed
  * only when `installed` is set. */
final class Tracer(spark: SparkSession, installed: Boolean) {
  import Tracer._

  var active = false
  var iteration: Int = -1

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var lastClosed: Span = _
  private val gauges = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private val statsById = new java.util.concurrent.ConcurrentHashMap[Int, StageStats]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  if (installed) spark.sparkContext.addSparkListener(new SparkListener {
    private def statsOf(props: java.util.Properties): Option[StageStats] =
      Option(props).flatMap(p => Option(p.getProperty(Property)))
        .flatMap(id => Option(statsById.get(id.toInt)))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      statsOf(e.properties).foreach(s => s.synchronized(s.jobs += 1))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Property)))
        .foreach(id => stageSpan.put(e.stageInfo.stageId, id.toInt))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).flatMap(id => Option(statsById.get(id)))
        .filter(_ => e.taskMetrics != null).foreach { s =>
          val m = e.taskMetrics
          s.synchronized {
            s.tasks += 1
            s.taskMs += m.executorRunTime
            s.maxTaskMs = math.max(s.maxTaskMs, e.taskInfo.duration)
            s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            s.spillBytes += m.diskBytesSpilled
            s.inputBytes += m.inputMetrics.bytesRead
          }
        }
  })

  /** Run `body` as a span of `layer`. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val s = new Span(spans.size, layer, name, open.headOption.map(_.id).getOrElse(-1),
        iteration, System.nanoTime())
      spans += s
      statsById.put(s.id, s.stats)
      open = s :: open
      spark.sparkContext.setLocalProperty(Property, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        lastClosed = s
        spark.sparkContext.setLocalProperty(Property, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Materialize a layer's output at its boundary (while tracing only). */
  def boundary(df: DataFrame): DataFrame =
    if (active) df.localCheckpoint(eager = true) else df

  /** Add to a per-run counter (while tracing only). */
  def gauge(name: String, v: Double): Unit = if (active) gauges(name) += v

  /** Record one `Pipeline` stage resolution: a build (checkpoint written)
    * or a skip (checkpoint reused); tags the stage span just closed. */
  def stageCall(root: String, name: String, built: Boolean): Unit = if (active) {
    gauge("pipeline.calls", 1)
    if (built) gauge("pipeline.bytes_written", Main.dirBytes(Paths.get(root, name)).toDouble)
    else gauge("pipeline.hits", 1)
    if (lastClosed != null && lastClosed.layer == "pipeline" && lastClosed.tag.isEmpty)
      lastClosed.tag = if (built) "build" else "skip"
  }

  /** Wait for the listener to see every event of the finished jobs. */
  def drain(): Unit =
    if (installed) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  def recorded: Seq[Span] = spans.toSeq
  def counters: Map[String, Double] = gauges.toMap

  /** Self time: the span's duration minus the part its children cover
    * (children run one after another on the driver thread). */
  def selfNanos(s: Span): Long =
    (s.end - s.start) - spans.iterator.filter(_.parent == s.id).map(c => c.end - c.start).sum

  def toJson: JValue = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    JObject(
      "spans" -> JArray(spans.toList.map { s =>
        JObject(
          "id" -> JInt(s.id), "parent" -> JInt(s.parent), "iteration" -> JInt(s.iteration),
          "layer" -> JString(s.layer), "name" -> JString(s.name), "tag" -> JString(s.tag),
          "start_s" -> JDouble((s.start - t0) / 1e9), "end_s" -> JDouble((s.end - t0) / 1e9),
          "self_s" -> JDouble(selfNanos(s) / 1e9),
          "jobs" -> JLong(s.stats.jobs), "tasks" -> JLong(s.stats.tasks),
          "task_s" -> JDouble(s.stats.taskMs / 1e3), "max_task_s" -> JDouble(s.stats.maxTaskMs / 1e3),
          "shuffle_bytes" -> JLong(s.stats.shuffleBytes), "spill_bytes" -> JLong(s.stats.spillBytes),
          "input_bytes" -> JLong(s.stats.inputBytes))
      }),
      "counters" -> JObject(gauges.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }))
  }
}

object Tracer {
  val Property = "perfbench.span"

  final class StageStats {
    var jobs = 0L
    var tasks = 0L
    var taskMs = 0L
    var maxTaskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
  }

  final class Span(val id: Int, val layer: String, val name: String, val parent: Int,
                   val iteration: Int, val start: Long) {
    var end = 0L
    var tag = ""
    val stats = new StageStats
  }
}

/** Per-layer metrics from the traced iterations: sums per span, divided by
  * the number of traced iterations (per-iteration means). */
object Layers {
  val All: Seq[String] =
    Seq("pipeline", "calibration", "ops", "stats", "core", "hist", "functions", "operators")

  def metrics(t: Tracer, iterations: Int, cores: Int): Map[String, Double] = {
    val n = math.max(iterations, 1).toDouble
    val spans = t.recorded.filter(_.iteration >= 0)
    val c = t.counters.withDefaultValue(0.0)
    def self(p: Tracer.Span => Boolean) = spans.filter(p).map(t.selfNanos).sum / 1e9 / n
    def named(layer: String, name: String) = self(s => s.layer == layer && s.name == name)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val children = spans.groupBy(_.parent)
    def subtree(s: Tracer.Span): Seq[Tracer.Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)

    val generic = All.flatMap { l =>
      val ls = spans.filter(_.layer == l)
      val taskS = ls.map(_.stats.taskMs).sum / 1e3 / n
      val wall = self(_.layer == l)
      Seq(
        s"$l.task_s" -> taskS,
        s"$l.core_util" -> ratio(taskS, wall * cores),
        s"$l.max_task_s" -> ls.map(_.stats.maxTaskMs).maxOption.getOrElse(0L) / 1e3,
        s"$l.shuffle_bytes" -> ls.map(_.stats.shuffleBytes).sum / n,
        s"$l.spill_bytes" -> ls.map(_.stats.spillBytes).sum / n,
        s"$l.jobs" -> ls.map(_.stats.jobs).sum / n)
    }
    generic.toMap ++ Map(
      "pipeline.build_s" -> self(s => s.layer == "pipeline" && s.tag == "build"),
      "pipeline.skip_s" -> self(s => s.layer == "pipeline" && s.tag == "skip"),
      "pipeline.hit_frac" -> ratio(c("pipeline.hits"), c("pipeline.calls")),
      "pipeline.bytes_written" -> c("pipeline.bytes_written") / n,
      "pipeline.bytes_read" -> spans.filter(_.layer == "pipeline")
        .flatMap(subtree).map(_.stats.inputBytes).sum / n,
      "calibration.s" -> self(_.layer == "calibration"),
      "ops.select_s" -> named("ops", "select"),
      "ops.reduce_s" -> named("ops", "reduce"),
      "ops.produce_s" -> named("ops", "produce"),
      "ops.selected_frac" -> ratio(c("ops.selected"), c("ops.read")),
      "stats.s" -> self(_.layer == "stats"),
      "core.merge_s" -> named("core", "merge"),
      "hist.fill_s" -> named("hist", "fill"),
      "hist.merge_s" -> named("hist", "merge"),
      "hist.fills" -> spans.count(s => s.layer == "hist" && s.name == "fill") / n,
      "hist.bins" -> c("hist.bins") / n,
      "operators.exact_dedup_s" -> named("operators", "exact_dedup"),
      "operators.minhash_lsh_s" -> named("operators", "minhash_lsh"),
      "operators.components_s" -> named("operators", "components"),
      "operators.contamination_s" -> named("operators", "contamination"),
      "operators.lsh_candidate_pairs" -> c("operators.lsh_candidate_pairs") / n,
      "operators.lsh_precision" -> ratio(c("operators.lsh_pairs"), c("operators.lsh_candidate_pairs")),
      "operators.kept_frac" -> ratio(c("operators.kept"), c("operators.input")),
      // filled in from the kernel pass of the curation workload
      "functions.minhash_ns_per_row" -> 0.0,
      "functions.token_count_ns_per_row" -> 0.0,
      "functions.quality_ns_per_row" -> 0.0)
  }
}
