package graft.plans

import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** The typed nodes of a physical plan, for plan audits and plan pins.
  * Adaptive plans, query stages, subqueries and the plans of cached
  * relations are opened, so a plan reads the same before AQE has run it
  * (its initial plan) and after (its final plan, stages included). A reused
  * exchange or subquery is a leaf: its subtree is counted once, where it
  * first runs. A cached relation's plan is counted at each scan of it. */
final case class PlanShape(plan: SparkPlan) {
  private val nodes: Seq[SparkPlan] = PlanShape.open(plan)

  def all[T <: SparkPlan: ClassTag]: Seq[T] = nodes.collect { case t: T => t }
  def count[T <: SparkPlan: ClassTag]: Int = all[T].size

  /** shuffles only: broadcast exchanges are `all[BroadcastExchangeExec]` */
  def shuffles: Seq[ShuffleExchangeExec] = all[ShuffleExchangeExec]
  def scans: Seq[FileSourceScanExec] = all[FileSourceScanExec]
  def windows: Seq[WindowExec] = all[WindowExec]
  /** windows with no partition spec: one task holds every row, at any scale */
  def globalWindows: Seq[WindowExec] = windows.filter(_.partitionSpec.isEmpty)
}

object PlanShape {
  def apply(df: DataFrame): PlanShape = PlanShape(df.queryExecution.executedPlan)

  /** `body`'s result and the query of each action it ran, in order: how a
    * frame's own plan is pinned together with the builds it hides behind
    * eager checkpoints. */
  def executionsDuring[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val ran = mutable.ArrayBuffer[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = ran.synchronized(ran += qe): Unit
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = onSuccess(name, qe, 0L)
    }
    val sc = spark.sparkContext
    ColumnBridge.waitListenerBusEmpty(sc)
    spark.listenerManager.register(listener)
    try { val r = body; ColumnBridge.waitListenerBusEmpty(sc); (r, ran.synchronized(ran.toVector)) }
    finally spark.listenerManager.unregister(listener)
  }

  private def open(plan: SparkPlan): Seq[SparkPlan] = plan.collect {
    case a: AdaptiveSparkPlanExec => open(a.executedPlan)
    case s: QueryStageExec => open(s.plan)
    case m: InMemoryTableScanExec => m +: open(m.relation.cachedPlan)
    case p => p +: p.subqueries.flatMap(open)
  }.flatten
}
