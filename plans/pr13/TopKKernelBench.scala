import scala.util.Try

import graft.Session
import graft.functions.TopK
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** ns/row of `groupBy(g).agg(<bounded top-k>)` over 10^7 cached rows into
  * a noop sink, for bigint and for string ids. Runs against a checkout
  * with the string-id aggregate in `TopK` or in the older `TopKStr`
  * (found by reflection), so one file times both sides of the change.
  *
  * Usage: copy into `src/test/scala/` of a checkout, then
  *   sbt "Test/runMain TopKKernelBench <reps>"
  * Prints one line per timed repetition: `kernel <ids> <rep> <ns/row>`. */
object TopKKernelBench {
  private val rows = 10000000L
  private val k = 5

  private def strTopK: (Column, Column) => Column =
    Try(Class.forName("graft.functions.TopKStr$")).toOption match {
      case Some(c) =>
        val module = c.getField("MODULE$").get(null)
        val m = c.getMethod("topKStr", classOf[Column], classOf[Column], classOf[Int], classOf[Boolean])
        (o, i) => m.invoke(module, o, i, Int.box(k), Boolean.box(true)).asInstanceOf[Column]
      case None => (o, i) => TopK.topK(o, i, k)
    }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(5)
    val spark = Session.local(Session.cpus(4))
    val df = spark.range(rows)
      .select((col("id") % 1000).cast("int").as("g"),
        (xxhash64(col("id")) % 100000).cast("double").as("v"),
        col("id").as("n"), format_string("t%d", xxhash64(col("id")) % 1000000).as("s"))
      .cache()
    df.count()
    val kernels = Seq[(String, Column)](
      "bigint" -> TopK.topK(col("v"), col("n"), k),
      "string" -> strTopK(col("v"), col("s")))
    for ((ids, agg) <- kernels) {
      def run(): Double = {
        val t0 = System.nanoTime()
        df.groupBy("g").agg(agg.as("t")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble / rows
      }
      run(); run() // warm-up: codegen + JIT
      for (r <- 1 to reps) println(f"kernel $ids $r ${run()}%.2f")
    }
    spark.stop()
  }
}
