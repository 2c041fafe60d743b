package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TopKStr (string-id) aggregate ≡ the window formulation, including ties
  * on the key (broken by the string id in binary order), small groups,
  * and the merge/serialize path (forced by pre-repartitioning). */
class TopKStrAggSpec extends SparkSpec {
  import spark.implicits._

  private def windowTopK(df: org.apache.spark.sql.DataFrame, k: Int, largest: Boolean) = {
    val ord = if (largest) Seq(col("v").desc, col("id").asc) else Seq(col("v").asc, col("id").asc)
    df.withColumn("rnk", row_number().over(Window.partitionBy("g").orderBy(ord: _*)))
      .filter(col("rnk") <= k)
      .select("g", "rnk", "id", "v")
  }

  private def aggTopK(df: org.apache.spark.sql.DataFrame, k: Int, largest: Boolean) =
    df.groupBy("g")
      .agg(TopKStr.topKStr(col("v"), col("id"), k, largest).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("g"), (col("i") + 1).as("rnk"), col("e.id").as("id"), col("e.key").as("v"))

  test("matches the window formulation on random data with ties, both directions") {
    val rnd = new scala.util.Random(7)
    // duplicate v values force string tie-breaks; variable-length ids
    // exercise binary-order comparison ("z" > "abc", "ab" < "b")
    val df = Seq.tabulate(5000) { i =>
      val id = rnd.nextInt(4) match {
        case 0 => f"t$i%05d"
        case 1 => s"term_${rnd.nextInt(300)}_$i"
        case 2 => s"${('a' + rnd.nextInt(26)).toChar}$i"
        case _ => s"Z$i" // uppercase sorts before lowercase in binary order
      }
      // -0.0 ties 0.0, as in Spark's sort (see TopKAggSpec)
      (rnd.nextInt(17), id, rnd.nextInt(41) match {
        case 40 => -0.0
        case n => n.toDouble / 4
      })
    }.toDF("g", "id", "v")
      .repartition(13) // force the partial-buffer merge + serialize path
    def bits(rows: Array[(Int, Int, String, Double)]) =
      rows.map { case (g, r, id, v) => (g, r, id, java.lang.Double.doubleToRawLongBits(v)) }.toSet
    for (largest <- Seq(true, false)) {
      val want = bits(windowTopK(df, 7, largest).as[(Int, Int, String, Double)].collect())
      val got = bits(aggTopK(df, 7, largest).as[(Int, Int, String, Double)].collect())
      assert(got === want, s"largest=$largest")
      assert(got.nonEmpty)
    }
  }

  test("groups smaller than k return all rows; null/NaN keys and null ids are skipped") {
    val df = Seq(
      (1, Some("a"), Some(2.0)), (1, Some("b"), Some(1.0)),
      (2, Some("c"), None), (2, Some("d"), Some(Double.NaN)),
      (2, None, Some(5.0)), (2, Some("e"), Some(9.0))
    ).toDF("g", "id", "v")
    val got = aggTopK(df, 5, largest = true)
      .as[(Int, Int, String, Double)].collect().toSet
    assert(got === Set((1, 1, "a", 2.0), (1, 2, "b", 1.0), (2, 1, "e", 9.0)))
  }

  test("buffered ids are defensive copies — operator row-buffer reuse cannot corrupt them") {
    // many rows per task with distinct string ids: if the aggregate kept
    // references into the operator's reused row buffer, later rows would
    // overwrite earlier buffered ids and the output would repeat the last
    // id instead of the true top-k set
    val df = (1 to 10000).map(i => (i % 5, s"id_$i", (i % 97).toDouble))
      .toDF("g", "id", "v").repartition(3)
    val got = aggTopK(df, 4, largest = true).select("id").as[String].collect()
    assert(got.distinct.length == got.length, s"duplicated ids: ${got.mkString(",")}")
    val want = windowTopK(df, 4, largest = true).select("id").as[String].collect().toSet
    assert(got.toSet === want)
  }

  test("the plan partial-aggregates map-side (ObjectHashAggregate, partial_)") {
    val df = (1 to 100).map(i => (i % 3, s"t$i", i.toDouble)).toDF("g", "id", "v")
    val p = df.groupBy("g").agg(TopKStr.topKStr(col("v"), col("id"), 3).as("t"))
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("partial_graft_topk_str") || p.contains("partial_"), p)
  }
}
