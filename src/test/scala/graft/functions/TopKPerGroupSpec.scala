package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `TopK.perGroup`: the one row-per-rank tail over the bounded aggregate. */
class TopKPerGroupSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    ("x", 1, 10L, Option(3.0)), ("x", 1, 11L, Option(5.0)), ("x", 1, 12L, Option(4.0)),
    ("x", 1, 13L, Option(5.0)), ("x", 2, 20L, Option(1.0)), ("y", 1, 30L, Option(2.0)),
    ("z", 1, 40L, None), ("z", 1, 41L, Option(Double.NaN))
  ).toDF("a", "b", "n", "v")

  test("output is the group columns, then rnk (int, 1-based), id and key, best first") {
    val out = TopK.perGroup(df, Seq(col("a")), col("v"), col("n"), 3)
    assert(out.schema.map(f => (f.name, f.dataType)) === Seq(
      "a" -> StringType, "rnk" -> IntegerType, "id" -> LongType, "key" -> DoubleType))
    val got = out.orderBy("a", "rnk").as[(String, Int, Long, Double)].collect().toSeq
    // x: key desc, the 5.0 tie broken by id asc; y is smaller than k
    assert(got === Seq(("x", 1, 11L, 5.0), ("x", 2, 13L, 5.0), ("x", 3, 12L, 4.0),
      ("y", 1, 30L, 2.0)))
  }

  test("rnk is 1..n and contiguous per group; a group smaller than k returns all its rows") {
    val out = TopK.perGroup(df, Seq(col("a")), col("v"), col("n"), 10, largest = false)
    val ranks = out.as[(String, Int, Long, Double)].collect().groupBy(_._1)
      .map { case (g, rs) => g -> rs.map(_._2).sorted.toSeq }
    assert(ranks === Map("x" -> (1 to 5), "y" -> Seq(1)))
    assert(out.filter(col("a") === "x" && col("rnk") === 1).select("id").as[Long].collect()
      .toSeq === Seq(20L))
  }

  test("k = 1 and a two-column group key") {
    val out = TopK.perGroup(df, Seq(col("a"), col("b")), col("v"), col("n"), 1)
    assert(out.columns.toSeq === Seq("a", "b", "rnk", "id", "key"))
    assert(out.orderBy("a", "b").as[(String, Int, Int, Long, Double)].collect().toSeq === Seq(
      ("x", 1, 1, 11L, 5.0), ("x", 2, 1, 20L, 1.0), ("y", 1, 1, 30L, 2.0)))
  }

  test("a group whose keys are all null or NaN yields no row") {
    val out = TopK.perGroup(df, Seq(col("a")), col("v"), col("n"), 3)
    assert(out.filter(col("a") === "z").count() === 0L)
  }

  test("k = 0 and k = 4097 throw when the column is built, before any job runs") {
    // perGroup only builds a lazy plan: the throw comes from the call itself
    for (k <- Seq(0, 4097)) {
      intercept[IllegalArgumentException](TopK.perGroup(df, Seq(col("a")), col("v"), col("n"), k))
      intercept[IllegalArgumentException](TopK.topK(col("v"), col("n"), k))
    }
  }
}
