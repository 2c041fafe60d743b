package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration: Bench, Verify, `graft.Tool`
  * and the test specs all get their session here, so their settings
  * cannot drift apart. */
object Session {
  /** The core count from `SPARK_GRAFT_CPUS`, or `default` when unset. Bench
    * echoes it unquoted into its JSON line, so only a positive integer is
    * accepted; `local[*]` spellings are refused before Spark starts. */
  def cpus(default: Int, raw: Option[String] = sys.env.get("SPARK_GRAFT_CPUS")): Int =
    raw.fold(default) { s =>
      s.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer core count, got '$s'"))
    }

  /** `local[cpus]` with one shuffle partition per core, AQE on, UTC, the UI
    * off, and TIMESTAMP(NANOS) parquet read as long nanos (older
    * `events.parquet` layouts; `Tables.events` converts them). */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
