package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TopK aggregate ≡ the window formulation, for bigint ids (signed order). */
class TopKAggSpec extends TopKAggBehaviour(TopKAggBehaviour.longIds,
  "groups smaller than k return all rows; null/NaN keys are skipped")

/** TopK aggregate ≡ the window formulation, for string ids (binary order),
  * plus the copy-on-store of the ids it buffers. */
class TopKStrAggSpec extends TopKAggBehaviour(TopKAggBehaviour.stringIds,
  "groups smaller than k return all rows; null/NaN keys and null ids are skipped") {

  test("buffered ids are defensive copies — operator row-buffer reuse cannot corrupt them") {
    // many rows per task with distinct string ids: if the aggregate kept
    // references into the operator's reused row buffer, later rows would
    // overwrite earlier buffered ids and the output would repeat the last
    // id instead of the true top-k set
    val df = frame((1 to 10000).map(i => Row(i % 5, s"id_$i", (i % 97).toDouble)))
      .repartition(3)
    val got = aggTopK(df, 4, largest = true).collect().map(_.getString(2))
    assert(got.distinct.length == got.length, s"duplicated ids: ${got.mkString(",")}")
    val want = windowTopK(df, 4, largest = true).collect().map(_.getString(2)).toSet
    assert(got.toSet === want)
  }
}

/** The TopK tests shared by both id types it reads from its input: window
  * equivalence including ties, ±0.0 and ±Inf keys, small groups, null
  * keys/ids, and the merge/serialize path (forced by pre-repartitioning). */
abstract class TopKAggBehaviour(ids: TopKAggBehaviour.Ids, smallGroupsTest: String)
    extends SparkSpec {

  protected def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("g", IntegerType), StructField("id", ids.tpe), StructField("v", DoubleType))))

  protected def windowTopK(df: DataFrame, k: Int, largest: Boolean) = {
    val ord = if (largest) Seq(col("v").desc, col("id").asc) else Seq(col("v").asc, col("id").asc)
    df.withColumn("rnk", row_number().over(Window.partitionBy("g").orderBy(ord: _*)))
      .filter(col("rnk") <= k)
      .select("g", "rnk", "id", "v")
  }

  protected def aggTopK(df: DataFrame, k: Int, largest: Boolean) =
    df.groupBy("g")
      .agg(TopK.topK(col("v"), col("id"), k, largest).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("g"), (col("i") + 1).as("rnk"), col("e.id").as("id"), col("e.key").as("v"))

  /** (g, rnk, id, key bits): a Double set would equate -0.0 with 0.0. */
  private def rows(df: DataFrame) = df.collect().map(r =>
    (r.getInt(0), r.getInt(1), r.get(2), java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet

  test("matches the window formulation on random data with ties, both directions") {
    val rnd = new scala.util.Random(ids.seed)
    // duplicate v values force id tie-breaks; 17 groups, some smaller
    // than k. -0.0 ties 0.0, as in Spark's sort
    // (SQLOrderingUtil.compareDoubles), and so must TopK; ±Inf are the
    // extreme finite-ordered keys
    val df = frame(Seq.tabulate(5000) { i =>
      val id = ids.draw(i, rnd)
      Row(rnd.nextInt(17), id, rnd.nextInt(43) match {
        case 40 => -0.0
        case 41 => Double.PositiveInfinity
        case 42 => Double.NegativeInfinity
        case n => n.toDouble / 4
      })
    }).repartition(13) // force the partial-buffer merge + serialize path
    for (largest <- Seq(true, false)) {
      val want = rows(windowTopK(df, 7, largest))
      val got = rows(aggTopK(df, 7, largest))
      assert(got === want, s"largest=$largest")
      assert(got.nonEmpty)
    }
  }

  test(smallGroupsTest) {
    // ids a..e, then four ids tied on the key, listed out of order (the
    // expected rank order is the type's own)
    val Seq(a, b, c, d, e) = ids.abcde
    val df = frame(Seq(
      Row(1, a, 2.0), Row(1, b, 1.0),
      Row(2, c, null), Row(2, d, Double.NaN), Row(2, null, 5.0), Row(2, e, 9.0)) ++
      ids.tied.map(Row(3, _, 1.0)))
    val want = (Seq((1, 1, a, 2.0), (1, 2, b, 1.0), (2, 1, e, 9.0)) ++
      ids.tiedOrder.zipWithIndex.map { case (id, i) => (3, i + 1, id, 1.0) })
      .map { case (g, r, id, v) => (g, r, id, java.lang.Double.doubleToRawLongBits(v)) }.toSet
    assert(rows(aggTopK(df, 5, largest = true)) === want)
  }

  test("the plan partial-aggregates map-side (ObjectHashAggregate, partial_)") {
    val rnd = new scala.util.Random(ids.seed)
    val df = frame((1 to 100).map(i => Row(i % 3, ids.draw(i, rnd), i.toDouble)))
    val top = df.groupBy("g").agg(TopK.topK(col("v"), col("id"), 3).as("t"))
    val p = top.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("partial_graft_topk"), p)
    // the buffer's id field keeps the input's id type
    assert(top.schema("t").dataType === ArrayType(StructType(Seq(
      StructField("key", DoubleType), StructField("id", ids.tpe))), containsNull = false))
  }
}

object TopKAggBehaviour {

  /** One id type: its Spark type, the seed of its random draw, the id of
    * row i, five distinct ids, and four ids with their rank order on a
    * key tie. */
  case class Ids(tpe: DataType, seed: Int, draw: (Int, scala.util.Random) => Any,
      abcde: Seq[Any], tied: Seq[Any], tiedOrder: Seq[Any])

  val longIds = Ids(LongType, 3, (i, _) => i.toLong,
    Seq(1L, 2L, 3L, 4L, 5L), Seq(7L, -3L, 10L, 0L), Seq(-3L, 0L, 7L, 10L))

  /** String ids vary in length and case, so key ties exercise binary
    * order ("Z" < "a", "ab" < "b"). */
  val stringIds = Ids(StringType, 7, (i, rnd) => rnd.nextInt(4) match {
      case 0 => f"t$i%05d"
      case 1 => s"term_${rnd.nextInt(300)}_$i"
      case 2 => s"${('a' + rnd.nextInt(26)).toChar}$i"
      case _ => s"Z$i" // uppercase sorts before lowercase in binary order
    },
    Seq("a", "b", "c", "d", "e"), Seq("b", "ab", "Z", "a"), Seq("Z", "a", "ab", "b"))
}
