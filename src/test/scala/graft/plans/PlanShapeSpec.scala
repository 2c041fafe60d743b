package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

class PlanShapeSpec extends SparkSpec {

  test("a Window.orderBy frame is global; a partitionBy frame is not") {
    val df = spark.range(100).select(col("id"), (col("id") % 3).as("g"))
    val global = PlanShape(df.withColumn("r", row_number().over(Window.orderBy("id"))))
    assert(global.windows.size == 1 && global.globalWindows.size == 1)
    val keyed = PlanShape(df.withColumn("r",
      row_number().over(Window.partitionBy("g").orderBy("id"))))
    assert(keyed.windows.size == 1 && keyed.globalWindows.isEmpty)
  }

  test("a one-table read is one scan, also when read through a cache") {
    val path = java.nio.file.Files.createTempDirectory("plan_shape").resolve("t").toString
    spark.range(100).select(col("id"), (col("id") % 3).as("g")).write.parquet(path)
    val t = spark.read.parquet(path)
    assert(PlanShape(t.groupBy("g").count()).scans.size == 1)
    val cached = t.filter(col("id") > 10).persist()
    try {
      val shape = PlanShape(cached.groupBy("g").count())
      assert(shape.scans.size == 1 && shape.shuffles.size == 1)
    } finally cached.unpersist()
  }

  test("exchanges are found inside query stages after AQE has run the plan") {
    val df = spark.range(1000).groupBy((col("id") % 7).as("k")).count()
    df.collect()
    val top = df.queryExecution.executedPlan
    // the final plan is a tree of query stages, each a leaf to `collect`
    val finalPlan = top.asInstanceOf[AdaptiveSparkPlanExec].executedPlan
    assert(finalPlan.isInstanceOf[QueryStageExec], s"AQE did not run the plan:\n$top")
    assert(finalPlan.collect { case e: ShuffleExchangeExec => e }.isEmpty)
    val shuffles = PlanShape(df).shuffles
    assert(shuffles.size == 1, s"expected one shuffle:\n$top")
    assert(shuffles.head.outputPartitioning.isInstanceOf[HashPartitioning])
  }
}
