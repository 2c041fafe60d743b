package graft.hist

import graft.SparkSpec
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class AxisSpecSuite extends SparkSpec {

  private def binOf(ax: Axis, v: Any): Any = {
    val s = spark
    import s.implicits._
    val df = v match {
      case d: Double => Seq(d).toDF("v")
      case i: Int => Seq(i).toDF("v")
      case b: Boolean => Seq(b).toDF("v")
      case str: String => Seq(str).toDF("v")
      case null => Seq[Option[Double]](None).toDF("v")
    }
    val r = df.select(ax.binId(col("v"))).head
    if (r.isNullAt(0)) null else r.getInt(0)
  }

  test("regular axis: flow, in-range, last-edge-inclusive") {
    val ax = Axis.Regular("x", 10, 0.0, 100.0)
    assert(binOf(ax, -0.1) == -1)        // underflow
    assert(binOf(ax, 0.0) == 0)
    assert(binOf(ax, 55.0) == 5)
    assert(binOf(ax, 100.0) == 9)        // last edge inclusive
    assert(binOf(ax, 100.1) == 10)       // overflow
    assert(binOf(ax, null) == null)
  }

  test("regular axis: non-representable width never spills into overflow") {
    // w = 0.7/7 = 0.09999999999999999; v just below hi would floor to n
    // without the clamp, colliding with the overflow bin.
    val ax = Axis.Regular("x", 7, 0.0, 0.7)
    assert(binOf(ax, 0.6999999999999999) == 6)
    assert(binOf(ax, 0.7) == 6)          // last edge inclusive
    assert(binOf(ax, 0.7000000000000001) == 7)
  }

  test("variable axis honors irregular edges") {
    val ax = Axis.Variable("x", Seq(0.0, 1.0, 10.0, 100.0))
    assert(binOf(ax, 0.5) == 0)
    assert(binOf(ax, 5.0) == 1)
    assert(binOf(ax, 99.0) == 2)
    assert(binOf(ax, 100.0) == 2)        // last edge inclusive
    assert(binOf(ax, 1000.0) == 3)
    assert(binOf(ax, -5.0) == -1)
    assert(binOf(ax, Double.NaN) == 3)   // NaN → overflow
    assert(binOf(Axis.Variable("y", Seq(-1.0, 0.0, 1.0)), -0.0) == 1) // −0.0 is 0.0
    assert(binOf(ax, Double.NegativeInfinity) == -1)
    assert(binOf(ax, Double.PositiveInfinity) == 3)
    assert(binOf(ax, 10) == 2)           // int input, on an inner edge
  }

  test("integer axis") {
    val ax = Axis.Integer("n", 0, 5)
    assert(binOf(ax, 0) == 0)
    assert(binOf(ax, 5) == 5)
    assert(binOf(ax, 6) == 6)            // overflow
    assert(binOf(ax, -1) == -1)
  }

  test("bool and categorical axes") {
    assert(binOf(Axis.Bool("b"), true) == 1)
    assert(binOf(Axis.Bool("b"), false) == 0)
    val sc = Axis.StrCat("c", Seq("x", "y"))
    assert(binOf(sc, "y") == 1)
    assert(binOf(sc, "zzz") == 2)        // unknown → overflow bin
    val ic = Axis.IntCat("c", Seq(5L, 7L))
    assert(binOf(ic, 7) == 1)
  }

  test("binIdSql mirrors binId for regular axis") {
    val s = spark
    import s.implicits._
    val ax = Axis.Regular("x", 4, 0.0, 8.0)
    val vals = Seq(-1.0, 0.0, 3.9, 7.9, 8.0, 9.0)
    val df = vals.toDF("v")
    val viaCol = df.select(ax.binId(col("v"))).collect().map(_.getInt(0)).toSeq
    val viaSql = df.selectExpr(ax.binIdSql("v")).collect().map(_.getInt(0)).toSeq
    assert(viaCol == viaSql)
  }

  /** The CASE chain `Axis.Variable.binId` was before its kernel: the
    * reference the kernel must match id for id. */
  private def caseChainBinId(edges: Seq[Double], v: Column): Column = {
    val nBins = edges.size - 1
    val inRange = edges.init.zipWithIndex.reverse.foldLeft(lit(nBins - 1): Column) {
      case (acc, (_, i)) => when(v < edges(i + 1), i).otherwise(acc)
    }
    when(v.isNull, lit(null))
      .when(v < edges.head, -1)
      .when(v === edges.last, nBins - 1)
      .when(v >= edges.last, nBins)
      .otherwise(inRange.cast("int"))
  }

  test("variable axis kernel equals the CASE chain, interpreted and codegen") {
    val inf = Double.PositiveInfinity
    val axes = Seq(
      Seq(-1.5, 0.0, 0.5, 2.0, 10.0),
      Seq(0.0, 1.0),
      Seq(-inf, -0.0, 3.0, inf),
      (0 to 40).map(_ * 0.25))
    val probes: Seq[java.lang.Double] = (axes.flatten ++ Seq(-0.0, 0.0, inf, -inf, Double.NaN,
      -1.6, -1.4, 0.25, 1.999, 2.001, 9.99, 10.01, 1e300, -1e300, Double.MinPositiveValue,
      0.7, 3.1, 5.125)).distinct.map(java.lang.Double.valueOf) :+ null
    val types = Seq(DoubleType, FloatType, DecimalType(12, 3), IntegerType)
    val rows = probes.map(p => Row(p, Seq(p, p)))
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("v", DoubleType), StructField("arr", ArrayType(DoubleType)))))
    for (edges <- axes; t <- types) {
      val ax = Axis.Variable("x", edges)
      // decimal and int inputs cannot hold NaN or ±Inf
      val df = raw
        .filter(lit(t == DoubleType || t == FloatType) || col("v").isNull ||
          !(col("v").isNaN || abs(col("v")) === lit(inf) || abs(col("v")) > 1e6))
        .select(col("v").cast(t).as("v"), col("arr").cast(ArrayType(t)).as("arr"))
      val top = df.select(ax.binId(col("v")).as("k"), caseChainBinId(edges, col("v")).as("c"))
      assert(top.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
      val lambda = df.select(
        transform(col("arr"), ax.binId(_)).as("k"), transform(col("arr"), caseChainBinId(edges, _)).as("c"))
      val got = top.collect()
      assert(got.length == df.count())
      for (r <- got) assert(r.get(0) == r.get(1), s"codegen $t ${edges.mkString(",")}: $r")
      for (r <- lambda.collect()) assert(r.getSeq[Any](0) == r.getSeq[Any](1),
        s"transform $t ${edges.mkString(",")}: $r")
    }
  }
}
