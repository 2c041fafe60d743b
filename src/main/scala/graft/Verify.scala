package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration); prefix the list with '!' to EXCLUDE instead — used by
    // scale rehearsals to skip the oracles that are quadratic in corpus
    // size by design (all-pairs ground truths for LSH/SimHash/near-dup)
    val filter: (String => Boolean) =
      if (args.length <= 2) _ => true
      else if (args(2).startsWith("!")) {
        val ex = args(2).drop(1).split(",").toSet; name => !ex.contains(name)
      } else { val in = args(2).split(",").toSet; in.contains(_) }
    val spark = Session.local(Session.cpus(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => filter(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // backstop: no registry query leaves a cached relation, but one
        // that did must not leak across the sweep — same as Bench
        spark.catalog.clearCache()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // dump only the filtered subset's oracles: check.py fails oracles
    // with no dump dir (the silent-skip fix), so a name-filtered run must
    // not advertise oracles it never dumped
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => filter(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
