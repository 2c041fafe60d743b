package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Synthetic fixture generator for scale rehearsals beyond the driver's
  * sf0.1 testdata (TESTDATA.md): same ten tables, same schemas, same value
  * ranges/categories, row counts = sf x the sf1 base counts below (sf0.1
  * fixture counts x 10 at sf=1).
  *
  * Design rules, same as the engine it exercises:
  *  - fully distributed: every column is a deterministic pure function of
  *    the `spark.range` id via seeded xxhash64 — no driver-side RNG, no
  *    collect, no order dependence, so generation itself scales to any sf
  *    and any executor count and is bit-reproducible at fixed sf;
  *  - correlated realism where plans care: lineitem ships 1-95 days after
  *    its order's date (computed from the SAME hash stream, no join);
  *    ~5% of documents are exact duplicates (shared text seed) so dedup
  *    operators have work; embeddings cluster around per-label centroids
  *    so IVF/ANN cell structure is real.
  *
  * Output layout matches the driver: one flat `<table>.parquet` FILE per
  * table; `events.ts` is TIMESTAMP(MICROS) without timezone (timestamp_ntz),
  * the layout the driver ships as of round 6 (Tables.normalizeTs adapts
  * readers to either this or the older TIMESTAMP(NANOS) layout).
  *
  * An optional third argument `<filesPerTable>` (default 1) writes each
  * table as a DIRECTORY named `<table>.parquet` holding that many part
  * files instead of one flat file — `spark.read.parquet` resolves both
  * layouts identically. The driver's single-file sf0.1 fixtures give every
  * scan ONE effective split, so 8-vs-32-core ratios are ≈1 by construction
  * (r9 `suspect_cpus_ignored`); a multi-file fixture is how parallel
  * scaling becomes measurable locally (guide §2.6/§6: scan parallelism is
  * bounded by splittable input units). Row CONTENT is unchanged — every
  * column is still a pure function of the row id — only the file layout
  * differs. The row set is deterministic; which part file a row lands in
  * is stable only at a fixed core count, because round-robin placement
  * follows the upstream partitioning.
  *
  * Usage: runMain graft.Tool gen <outDir> <sf> [filesPerTable]
  */
object GenData {
  private def h(seed: Int, cols: org.apache.spark.sql.Column*) =
    xxhash64((cols :+ lit(seed)): _*)
  /** uniform long in [0, n) from a seeded hash of `id` */
  private def u(seed: Int, n: Long) = pmod(h(seed, col("id")), lit(n))

  def generate(spark: SparkSession, outDir: String, sf: Double, filesPerTable: Int): Unit = {
    require(filesPerTable >= 1, s"filesPerTable must be >= 1: $filesPerTable")
    // INT64 micros, not INT96: day-boundary dates are exact either way
    // and both Spark and DuckDB read micros identically (driver files
    // use ms — the physical unit is irrelevant to the oracle compare
    // since both engines read the SAME file)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()

    def n(base: Long): Long = math.max(1L, (base * sf).toLong)
    val nNation = 25L
    val nSupp = n(10000)
    val nCust = n(150000)
    val nPart = n(200000)
    val nOrders = n(1500000)
    val nLines = nOrders * 4
    val nEvents = n(1000000)
    val nUsers = n(15000)
    val nDocs = n(50000)
    val nVecs = n(20000)

    // keep every generated double on an exact 2dp grid (round AFTER the
    // integer hash draw) so Spark-written and DuckDB-read values are the
    // same bits — the oracle-portability rule the whole registry follows
    def money(seed: Int, lo: Double, hiCents: Long) =
      round(u(seed, hiCents) / 100.0 + lo, 2)

    def write(name: String, df: DataFrame): Unit = {
      if (filesPerTable > 1) {
        // multi-file layout: a directory named <table>.parquet — same read
        // path, but the scan gets `filesPerTable` independent splits
        df.repartition(filesPerTable)
          .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      } else {
        val tmp = s"$outDir/_tmp_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.endsWith(".parquet")).get
        Files.move(part.toPath, Paths.get(s"$outDir/$name.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      }
      println(s"[gen] $name: done")
    }

    write("region", spark.range(5).select(
      col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), col("id").cast("int") + 1).as("r_name")))

    write("nation", spark.range(nNation).select(
      col("id").cast("int").as("n_nationkey"),
      format_string("NATION_%d", col("id")).as("n_name"),
      u(11, 5).cast("int").as("n_regionkey")))

    write("supplier", spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u(21, nNation).cast("int").as("s_nationkey"),
      money(22, -1000.0, 1100000).as("s_acctbal")))

    val segments = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY").map(lit): _*)
    write("customer", spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u(31, nNation).cast("int").as("c_nationkey"),
      money(32, -1000.0, 1100000).as("c_acctbal"),
      element_at(segments, u(33, 5).cast("int") + 1).as("c_mktsegment")))

    val adjectives = array(Seq("large", "hot", "blue", "old", "cold", "small",
      "new", "red", "green", "dim").map(lit): _*)
    val nouns = array(Seq("ring", "bolt", "plate", "gear", "wheel", "pin",
      "cap", "rod").map(lit): _*)
    val ptypes = array(Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
      "PROMO").map(lit): _*)
    write("part", spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ", element_at(adjectives, u(41, 10).cast("int") + 1),
        element_at(nouns, u(42, 8).cast("int") + 1)).as("p_name"),
      format_string("Brand#%d", u(43, 25) + 1).as("p_brand"),
      element_at(ptypes, u(44, 6).cast("int") + 1).as("p_type"),
      (u(45, 50) + 1).cast("int").as("p_size"),
      money(46, 900.0, 9991).as("p_retailprice")))

    // orders span 1995-01-01 .. 2001-08-01 (2404 days), like the fixtures
    val orderEpochDay = lit(9131) + u(51, 2405) // 1995-01-01 = day 9131
    write("orders", spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      u(52, nCust).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")), u(53, 3).cast("int") + 1)
        .as("o_orderstatus"),
      money(54, 100.0, 49990001).as("o_totalprice"),
      date_from_unix_date(orderEpochDay.cast("int")).cast("timestamp_ntz")
        .as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").map(lit): _*), u(55, 5).cast("int") + 1).as("o_orderpriority")))

    // 4 lines per order; shipdate = the order's date (recomputed from the
    // same seed-51 hash of the long orderkey — no join) + 1..95 days
    val lOrderkey = expr("id div 4")
    val lOrderDay = lit(9131) +
      pmod(xxhash64(lOrderkey, lit(51)), lit(2405L))
    val qty = (u(61, 50) + 1).cast("double")
    write("lineitem", spark.range(nLines).select(
      lOrderkey.as("l_orderkey"),
      u(62, nPart).as("l_partkey"),
      u(63, nSupp).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (u(64, 9990) + 90000) / 100.0, 2).as("l_extendedprice"),
      (u(65, 11) / lit(100.0)).as("l_discount"),
      (u(66, 9) / lit(100.0)).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), u(67, 3).cast("int") + 1)
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), u(68, 2).cast("int") + 1)
        .as("l_linestatus"),
      date_from_unix_date((lOrderDay + u(69, 95) + 1).cast("int"))
        .cast("timestamp_ntz").as("l_shipdate")))

    // events over a 30-day window from 2024-01-01, on a microsecond grid —
    // written as timestamp_ntz micros, the driver's current layout
    val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z
    write("events", spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(baseUs) + u(71, 30L * 86400) * lit(1000000L) +
        u(72, 1000000)).cast("timestamp_ntz").as("ts"),
      u(73, nUsers).as("user_id"),
      element_at(array(Seq("click", "error", "purchase", "signup",
        "view").map(lit): _*), u(74, 5).cast("int") + 1).as("event_type"),
      money(75, 0.0, 56022).as("value"),
      format_string("{\"k\": %d}", u(76, 100)).as("props")))

    // documents: ~45-word vocabulary, 8..80 words; ~5% of docs draw their
    // words from a shared group seed -> exact duplicates for dedup ops
    val vocab = array(Seq("spark", "line", "column", "order", "small", "sort",
      "fast", "value", "scan", "a", "hash", "slow", "group", "b", "batch",
      "part", "vector", "query", "agg", "table", "key", "the", "filter",
      "customer", "stream", "window", "join", "index", "merge", "shuffle",
      "cache", "disk", "row", "page", "block", "plan", "code", "gen", "map",
      "reduce", "read", "write", "null", "type", "cast").map(lit): _*)
    val dupSeed = when(u(81, 20) === 0, (col("id") - pmod(col("id"), lit(40L))))
      .otherwise(col("id"))
    val nWords = (pmod(xxhash64(dupSeed, lit(82)), lit(73L)) + 8).cast("int")
    val words = transform(sequence(lit(1), nWords),
      i => element_at(vocab, pmod(xxhash64(dupSeed, i, lit(83)), lit(45L))
        .cast("int") + 1))
    val text = array_join(words, " ")
    write("documents", spark.range(nDocs).select(
      col("id").as("doc_id"),
      text.as("text"),
      element_at(array(Seq("en", "en", "en", "en", "en", "en", "en", "en",
        "de", "de", "de", "es", "es", "es", "fr", "fr", "fr", "zh", "zh",
        "zh").map(lit): _*), u(84, 20).cast("int") + 1).as("lang"),
      format_string("src%d", u(85, 20)).as("source"),
      length(text).cast("long").as("n_chars")))

    // embeddings: 64-dim floats around one of 10 label centroids (+-0.3
    // uniform noise) so IVF cells and near-dup structure exist
    val label = u(91, 10).cast("int")
    val emb = transform(sequence(lit(0), lit(63)), j =>
      ((pmod(xxhash64(label, j, lit(92)), lit(2001L)) - 1000) / lit(1000.0) +
        (pmod(xxhash64(col("id"), j, lit(93)), lit(2001L)) - 1000) /
          lit(1000.0) * lit(0.3)).cast("float"))
    write("embeddings", spark.range(nVecs).select(
      col("id").as("vec_id"),
      emb.as("embedding"),
      label.as("label")))
  }
}
