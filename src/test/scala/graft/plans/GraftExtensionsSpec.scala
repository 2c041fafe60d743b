package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The SQL registration must reach the same kernels as the Column API. */
class GraftExtensionsSpec extends SparkSpec {

  test("SQL-registered kernels match the Column API bit for bit") {
    val s = spark
    import s.implicits._
    GraftExtensions.register(s)
    Seq((Array(1.0f, 2.0f, 3.0f), Array(0.5f, 0.5f, 0.5f), "hello", Seq(7L, 8L, 9L)))
      .toDF("a", "b", "s", "h").createOrReplaceTempView("ext_t")

    val viaSql = s.sql("""
      SELECT graft_vec_dot(a, b) AS d,
             graft_md5_lower64(s) AS m,
             graft_simhash64(h) AS sh,
             graft_minhashes(h, 4) AS mh,
             graft_token_count(s) AS tc
      FROM ext_t""").head()
    val viaCol = s.table("ext_t").select(
      graft.functions.VectorKernels.dotCol($"a", $"b").as("d"),
      graft.functions.HashKernels.md5Lower64Col($"s").as("m"),
      graft.functions.HashKernels.simhash64Col($"h").as("sh"),
      graft.functions.HashKernels.minhashesCol($"h", 4).as("mh"),
      graft.functions.TextKernels.tokenCountCol($"s").as("tc")).head()

    assert(viaSql.getDouble(0) === viaCol.getDouble(0))
    assert(viaSql.getLong(1) === viaCol.getLong(1))
    assert(viaSql.getLong(2) === viaCol.getLong(2))
    assert(viaSql.getSeq[Long](3) === viaCol.getSeq[Long](3))
    assert(viaSql.getInt(4) === viaCol.getInt(4) && viaSql.getInt(4) === 1)
    assert(viaSql.getDouble(0) === 3.0)
  }

  test("non-literal k in graft_minhashes fails with a readable error") {
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhashes(array(1L), CAST(rand() * 4 AS INT))").collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("KernelFusion rewrites the HOF dot product to the native kernel, bit-exactly") {
    val s = spark
    import s.implicits._
    // spark.range (not a local Seq): ConvertToLocalRelation would
    // constant-fold a LocalRelation before the fusion rule could show up
    val df = s.range(3).select(
      array(col("id") * 1.5, col("id") - 2.0, lit(3.25)).as("a"),
      array(col("id") * 0.5, lit(4.0), col("id") * -1.0).as("b"))
    def hof() = df.select(expr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v) AS d"))
    val unfused = hof().collect().map(_.get(0)).toSeq
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations :+ KernelFusion
    try {
      // fresh frame: a Dataset caches its QueryExecution, so the
      // pre-rule `hof()` would show the old optimized plan
      val fused = hof()
      val p = fused.queryExecution.optimizedPlan.toString
      assert(p.contains("graft_vec_dot"), s"fusion did not fire:\n$p")
      assert(fused.collect().map(_.get(0)).toSeq === unfused)
      // float arrays with an un-cast (float-precision) multiply: NOT fused
      val fbase = s.range(2).select(
        array((col("id") + 1.5).cast("float")).as("a"),
        array((col("id") + 2.5).cast("float")).as("b"))
      val fdf = fbase.select(expr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v) AS d"))
      assert(!fdf.queryExecution.optimizedPlan.toString.contains("graft_vec_dot"),
        "float-precision multiply must not fuse (different rounding)")
      // cast-to-double float multiply: fused
      val cdf = fbase.select(expr(
        """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
           0.0d, (acc, v) -> acc + v) AS d"""))
      assert(cdf.queryExecution.optimizedPlan.toString.contains("graft_vec_dot"))
      assert(cdf.orderBy("d").head().getDouble(0) === 1.5 * 2.5)
    } finally {
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations.filterNot(_ == KernelFusion)
    }
  }

  test("the build-time extensions class registers the same builder list") {
    // the class only delegates to GraftExtensions.functions — pin that
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; builders shared
    assert(GraftExtensions.functions.map(_._1.funcName).sorted ===
      Seq("graft_edit_within", "graft_md5_lower64", "graft_minhashes",
        "graft_nfc", "graft_simhash64", "graft_token_count", "graft_vec_dot"))
  }
}
