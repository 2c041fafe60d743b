package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** Root SQL executions started while `body` runs. */
  def executionsDuring[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case st: SparkListenerSQLExecutionStart
          if st.rootExecutionId.forall(_ == st.executionId) => n.incrementAndGet(): Unit
        case _ =>
      }
    }
    ColumnBridge.waitListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { val r = body; ColumnBridge.waitListenerBusEmpty(spark.sparkContext); (r, n.get) }
    finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
