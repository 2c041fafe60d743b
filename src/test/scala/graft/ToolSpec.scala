package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.col

class ToolSpec extends SparkSpec {

  test("audit writes the header and one plan-shape row per registry query") {
    val out = Files.createTempFile("audit", ".tsv")
    try {
      Tool.command(Seq("audit", "/root/testdata/sf0.001", out.toString))(spark)
      val lines = Files.readAllLines(out).asScala.toSeq
      val header = lines.head.split("\t").toSeq
      assert(header == Seq("query", "exch_hash", "exch_range", "exch_rr", "exch_single",
        "bcast", "smj", "shj", "bhj", "bnlj", "cartesian", "windows", "global_window",
        "generate", "scans", "sort"))
      assert(lines.size == 1 + 207)
      val rows = lines.tail.map(l => header.zip(l.split("\t")).toMap)
      assert(rows.forall(_.size == header.size), "a query failed to plan")
      val byName = rows.map(r => r("query") -> r).toMap
      // one lineitem scan, counted once
      assert(byName("q1_pricing_summary")("scans") == "1")
      // global windows count WindowExec nodes: q143's one node holds two
      // window expressions over the same unpartitioned spec
      assert(rows.filter(_("global_window") != "0").map(_("query")).toSet ==
        Set("q18_user_rank", "q129_skyline", "q130_quantile_bins", "q143_psi_drift",
          "q158_lift_table", "q190_zipf_fit"))
      assert(byName("q143_psi_drift")("global_window") == "1")
    } finally Files.delete(out)
  }

  test("an unknown subcommand is refused with the usage message") {
    for (args <- Seq(Seq("bogus"), Nil, Seq("audit", "onlyOneArg"), Seq("scale", "nope", "/d"))) {
      val e = intercept[IllegalArgumentException](Tool.command(args))
      assert(e.getMessage.startsWith("usage: graft.Tool"), args)
    }
  }

  test("stage metrics hold every stage of a finished action, shuffle bytes included") {
    val m = new StageMetrics(spark.sparkContext)
    try {
      m.reset()
      spark.range(10000).groupBy((col("id") % 10).as("k")).count().collect()
      val stages = m.stages()
      assert(stages.exists(_.shuffleWrite > 0) && stages.exists(_.shuffleRead > 0), stages)
      assert(stages.forall(s => s.maxTaskMs >= 0 && s.maxTaskMs <= s.taskMs), stages)
    } finally spark.sparkContext.removeSparkListener(m)
  }
}
