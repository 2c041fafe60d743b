package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import graft.plans.PlanShape
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** The executed plan of each SQL execution `body` runs, in order. */
  def executionsDuring[T](body: => T): (T, Seq[SparkPlan]) = {
    val (r, ran) = PlanShape.executionsDuring(spark)(body)
    (r, ran.map(_.executedPlan))
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
