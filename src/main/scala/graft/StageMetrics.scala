package graft

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Per-stage metrics of every stage completed since the last `reset()`: the
  * Spark UI stage page, which these sessions turn off. Registers itself on
  * `sc`. Both calls drain the listener bus first, so no stage of a finished
  * action is missed and none of an earlier one leaks in. */
final class StageMetrics(sc: SparkContext) extends SparkListener {
  private val maxTask = mutable.Map[Int, Long]()
  private val done = mutable.ArrayBuffer[StageMetrics.Stage]()
  sc.addSparkListener(this)

  // StageInfo carries only sums; the longest task is the skew witness
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    if (te.taskMetrics != null) synchronized {
      maxTask(te.stageId) =
        math.max(maxTask.getOrElse(te.stageId, 0L), te.taskMetrics.executorRunTime)
    }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = synchronized {
    val si = ev.stageInfo
    val m = si.taskMetrics
    val wall = for (a <- si.completionTime; b <- si.submissionTime) yield a - b
    done += StageMetrics.Stage(si.stageId, si.name.split("\n").head.take(60),
      wall.getOrElse(-1L), m.executorRunTime, si.numTasks,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.inputMetrics.bytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      maxTask.getOrElse(si.stageId, -1L))
  }

  def reset(): Unit = {
    ColumnBridge.waitListenerBusEmpty(sc)
    synchronized { done.clear(); maxTask.clear() }
  }

  /** the stages completed since the last reset, by stage id */
  def stages(): Seq[StageMetrics.Stage] = {
    ColumnBridge.waitListenerBusEmpty(sc)
    synchronized(done.sortBy(_.id).toVector)
  }
}

object StageMetrics {
  /** times in ms, sizes in bytes */
  final case class Stage(id: Int, name: String, wallMs: Long, taskMs: Long,
      tasks: Int, shuffleRead: Long, shuffleWrite: Long, input: Long,
      spill: Long, maxTaskMs: Long)
}
