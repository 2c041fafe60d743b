package graft.queries

import java.nio.file.{Files, Paths}
import scala.sys.process._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.functions.Text
import org.apache.spark.sql.functions._

/** q91's representative pick on duplicate groups the sf fixtures never
  * hold: texts with no token have a NULL quality score, which the TopK
  * aggregate skips. The oracle sorts `q DESC` with NULLs last, so a group
  * of 0-token texts keeps its lowest doc_id with a NULL `rep_quality`, and
  * a group with any scored member keeps the best scored one. */
class Q91RepresentativeSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, ""), (4L, ""), (7L, ""), // 0 tokens, h = ''
    (2L, "... --- ... ??"), (5L, "... --- ... !!"), // punctuation only
    (3L, "............"), (6L, "............ some real words"), // one scored member
    (8L, "a singleton is no duplicate group"))

  test("a group of 0-token texts keeps its lowest doc_id; a scored member beats an unscored one") {
    val dir = Files.createTempDirectory("q91_edge").toString
    // one parquet FILE, as the fixtures ship (DuckDB reads a file, not a directory)
    docs.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/spark_out")
    Files.move(Files.list(Paths.get(s"$dir/spark_out")).filter(_.toString.endsWith(".parquet"))
      .findFirst().get, Paths.get(s"$dir/documents.parquet"))
    val q91 = Registry.all.find(_.name == "q91_dedup_representatives").get
    val got = q91.fn(spark, dir)
    val rows = got.as[(Long, Option[Long], Long, Option[Double])].collect().toSeq
    val q6 = Seq("............ some real words").toDF("t")
      .select(Text.qualityScore(col("t"))).as[Double].head()
    assert(rows === Seq((1L, Some(1L), 3L, None), (2L, Some(2L), 2L, None),
      (3L, Some(6L), 2L, Some(q6))))

    // and the DuckDB oracle agrees, through the same comparator as Verify output
    val out = Files.createTempDirectory("q91_edge_out").toString
    got.coalesce(1).write.parquet(s"$out/${q91.name}")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), new ObjectMapper()
      .writeValueAsString(java.util.Map.of(q91.name, q91.oracle.get)))
    val log = new StringBuilder
    val rc = Process(Seq("python3", "tools/check.py", dir, out))
      .!(ProcessLogger(l => log.append(l).append('\n'), l => log.append(l).append('\n')))
    assert(rc == 0, s"q91 disagrees with its oracle on the edge fixture:\n$log")
  }
}
