package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TopK aggregate ≡ the window formulation, including ties, small groups,
  * and the merge path (forced by pre-repartitioning). */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  private def windowTopK(df: org.apache.spark.sql.DataFrame, k: Int, largest: Boolean) = {
    val ord = if (largest) Seq(col("v").desc, col("id").asc) else Seq(col("v").asc, col("id").asc)
    df.withColumn("rnk", row_number().over(Window.partitionBy("g").orderBy(ord: _*)))
      .filter(col("rnk") <= k)
      .select("g", "rnk", "id", "v")
  }

  private def aggTopK(df: org.apache.spark.sql.DataFrame, k: Int, largest: Boolean) =
    df.groupBy("g")
      .agg(TopK.topK(col("v"), col("id"), k, largest).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("g"), (col("i") + 1).as("rnk"), col("e.id").as("id"), col("e.key").as("v"))

  test("matches the window formulation on random data with ties, both directions") {
    val rnd = new scala.util.Random(3)
    // duplicate v values force tie-breaks; 17 groups, some smaller than k.
    // -0.0 and 0.0 are the smallest keys: Spark's sort ties them
    // (SQLOrderingUtil.compareDoubles), and so must TopK
    val df = Seq.tabulate(5000)(i =>
      (rnd.nextInt(17), i.toLong, rnd.nextInt(41) match {
        case 40 => -0.0
        case n => n.toDouble / 4
      }))
      .toDF("g", "id", "v")
      .repartition(13) // force the partial-buffer merge path
    // compare keys by bit pattern: a Double set equates -0.0 with 0.0
    def bits(rows: Array[(Int, Int, Long, Double)]) =
      rows.map { case (g, r, id, v) => (g, r, id, java.lang.Double.doubleToRawLongBits(v)) }.toSet
    for (largest <- Seq(true, false)) {
      val want = bits(windowTopK(df, 7, largest).as[(Int, Int, Long, Double)].collect())
      val got = bits(aggTopK(df, 7, largest).as[(Int, Int, Long, Double)].collect())
      assert(got === want, s"largest=$largest")
      assert(got.nonEmpty)
    }
  }

  test("groups smaller than k return all rows; null/NaN keys are skipped") {
    val df = Seq(
      (1, 1L, Some(2.0)), (1, 2L, Some(1.0)),
      (2, 3L, None), (2, 4L, Some(Double.NaN)), (2, 5L, Some(9.0))
    ).toDF("g", "id", "v")
    val got = aggTopK(df, 5, largest = true)
      .as[(Int, Int, Long, Double)].collect().toSet
    assert(got === Set((1, 1, 1L, 2.0), (1, 2, 2L, 1.0), (2, 1, 5L, 9.0)))
  }

  test("the plan partial-aggregates map-side (ObjectHashAggregate, partial_)") {
    val df = (1 to 100).map(i => (i % 3, i.toLong, i.toDouble)).toDF("g", "id", "v")
    val p = df.groupBy("g").agg(TopK.topK(col("v"), col("id"), 3).as("t"))
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("partial_graft_topk") || p.contains("partial_"), p)
  }
}
