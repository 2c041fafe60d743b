package graft.pipeline

import graft.SparkSpec
import graft.core.Route
import graft.functions.Seeds
import graft.lookup.BinnedTable
import graft.hist.Axis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.jdk.CollectionConverters._

class PipelineSpec extends SparkSpec {

  test("Shift.pair builds up/down alias maps") {
    val Seq(up, down) = Shift.pair("jec", "Jet.pt", "MET.pt")
    assert(up.name == "jec_up")
    assert(up.aliases == Map(
      Route("Jet.pt_jec_up") -> Route("Jet.pt"),
      Route("MET.pt_jec_up") -> Route("MET.pt")))
    assert(down.aliases(Route("Jet.pt_jec_down")) == Route("Jet.pt"))
  }

  test("Shift rewrites nominal columns; nominal shift is identity") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 10.0, 12.0)).toDF("event", "pt", "pt_jec_up")
    val Seq(up, _) = Shift.pair("jec", "pt")
    assert(up(df).select("pt").head.getDouble(0) == 12.0)
    assert(Shift.Nominal(df).select("pt").head.getDouble(0) == 10.0)
  }

  test("Pipeline stages checkpoint and skip completed work") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-pipe").toString
    val pipe = new Pipeline(spark, root)
    var builds = 0
    def build = { builds += 1; Seq((1L, 2.0)).toDF("event", "x") }
    val out1 = pipe.stage("calib")(build)
    val out2 = pipe.stage("calib")(build) // checkpoint hit: no rebuild
    assert(builds == 1)
    assert(out1.collect().toSeq == out2.collect().toSeq)
    pipe.invalidate("calib")
    pipe.stage("calib")(build)
    assert(builds == 2)
  }

  test("versioned stages invalidate on version change, reuse on match") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-pipe-v").toString
    val pipe = new Pipeline(spark, root)
    var builds = 0
    def build(x: Double) = { builds += 1; Seq((1L, x)).toDF("event", "x") }
    assert(pipe.stage("sel", "v1")(build(2.0)).head.getDouble(1) == 2.0)
    // same version → checkpoint reused
    assert(pipe.stage("sel", "v1")(build(3.0)).head.getDouble(1) == 2.0)
    assert(builds == 1)
    // changed version → stale checkpoint rebuilt, not silently reused
    assert(pipe.stage("sel", "v2")(build(3.0)).head.getDouble(1) == 3.0)
    assert(builds == 2)
    // unversioned stage written before versioning counts as stale too
    pipe.invalidate("sel")
    pipe.stage("sel")(build(4.0))
    assert(pipe.stage("sel", "v3")(build(5.0)).head.getDouble(1) == 5.0)
  }

  test("checked stages reject non-finite outputs and leave no checkpoint behind") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-pipe-f").toString
    val pipe = new Pipeline(spark, root)
    val e = intercept[IllegalArgumentException] {
      pipe.stageChecked("bad", checkFinite = true)(
        Seq((1L, Double.NaN)).toDF("event", "x"))
    }
    assert(e.getMessage.contains("nan=1"))
    // the poisoned checkpoint was invalidated: a clean rebuild succeeds
    val ok = pipe.stageChecked("bad", checkFinite = true)(
      Seq((1L, 2.5)).toDF("event", "x"))
    assert(ok.head.getDouble(1) == 2.5)
  }

  test("stageShifted materializes one checkpoint per shift") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-pipe2").toString
    val pipe = new Pipeline(spark, root)
    val df = Seq((1L, 10.0, 11.0, 9.0)).toDF("event", "w", "w_s_up", "w_s_down")
    val shifts = Shift.Nominal +: Shift.pair("s", "w")
    val outs = pipe.stageShifted("weights", shifts)(sh => sh(df).select("event", "w"))
    assert(outs.keySet == Set("nominal", "s_up", "s_down"))
    assert(outs("s_up").head.getDouble(1) == 11.0)
    assert(outs("s_down").head.getDouble(1) == 9.0)
  }

  /** Parquet writes under `root` while `body` runs. */
  private def writesUnder(root: String)(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical.foreach {
          case w: InsertIntoHadoopFsRelationCommand if w.outputPath.toString.contains(root) =>
            n.incrementAndGet(): Unit
          case _ =>
        }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; ColumnBridge.waitListenerBusEmpty(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    n.get
  }

  /** Footer metadata of every column chunk in the parquet files of `dir`. */
  private def columnChunks(dir: String): Seq[ColumnChunkMetaData] = {
    val conf = spark.sparkContext.hadoopConfiguration
    Files.list(Paths.get(dir)).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .toSeq.flatMap { p =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(p.toString), conf))
        try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        finally r.close()
      }
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    ColumnBridge.waitListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; ColumnBridge.waitListenerBusEmpty(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }

  private val wShifts = Shift.Nominal +: Shift.pair("s", "w")

  private def wFrame: DataFrame = {
    val s = spark
    import s.implicits._
    Seq((1L, 10.0, 11.0, 9.0), (2L, 20.0, 22.0, 18.0)).toDF("event", "w", "w_s_up", "w_s_down")
  }

  test("stageShifted writes all missing shifts in one job") {
    val root = Files.createTempDirectory("graft-pipe-one").toString
    val pipe = new Pipeline(spark, root)
    var outs = Map.empty[String, DataFrame]
    val writes = writesUnder(root) {
      outs = pipe.stageShifted("weights", wShifts, "v1")(sh => sh(wFrame).select("event", "w"))
    }
    assert(writes == 1)
    assert(outs("s_up").orderBy("event").collect().map(_.getDouble(1)).toSeq == Seq(11.0, 22.0))
    assert(outs("nominal").columns.toSeq == Seq("event", "w"))
    for (sh <- wShifts; f <- Seq("_SUCCESS", "_GRAFT_VERSION", "_GRAFT_SCHEMA"))
      assert(Files.exists(Paths.get(root, "weights", s"shift=${sh.name}", f)), s"${sh.name}/$f")
    // a full hit writes nothing
    assert(writesUnder(root)(pipe.stageShifted("weights", wShifts, "v1")(_ => fail("rebuilt"))) == 0)
  }

  test("stageShifted rebuilds only missing or stale shifts") {
    val root = Files.createTempDirectory("graft-pipe-miss").toString
    val pipe = new Pipeline(spark, root)
    val built = scala.collection.mutable.ArrayBuffer.empty[String]
    def run(version: String) = pipe.stageShifted("weights", wShifts, version) { sh =>
      built += sh.name; sh(wFrame).select("event", "w")
    }
    run("v1")
    assert(built == Seq("nominal", "s_up", "s_down"))
    built.clear()
    pipe.invalidate("weights/shift=s_up")
    Files.write(Paths.get(root, "weights", "shift=s_down", "_GRAFT_VERSION"), "v0".getBytes("UTF-8"))
    val outs = run("v1")
    assert(built == Seq("s_up", "s_down")) // declaration order, nominal kept
    assert(outs("s_down").orderBy("event").head.getDouble(1) == 9.0)
    assert(outs("nominal").count() == 2)
    built.clear()
    run("v2")
    assert(built == Seq("nominal", "s_up", "s_down"))
  }

  test("stageShifted gives a shift with no rows an empty, readable checkpoint") {
    val root = Files.createTempDirectory("graft-pipe-empty").toString
    val pipe = new Pipeline(spark, root)
    var builds = 0
    def run() = pipe.stageShifted("weights", wShifts) { sh =>
      builds += 1
      val df = sh(wFrame).select("event", "w")
      if (sh.name == "s_down") df.filter(lit(false)) else df
    }
    val outs = run()
    assert(outs("s_down").count() == 0)
    assert(outs("s_down").schema == outs("nominal").schema)
    assert(outs("s_down").schema.map(f => f.name -> f.dataType) ==
      Seq("event" -> LongType, "w" -> DoubleType))
    assert(run()("s_down").count() == 0)
    assert(builds == 3) // the empty checkpoint is complete: second run is a hit
  }

  test("stageShifted clears a leftover shift directory instead of appending to it") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-pipe-left").toString
    val pipe = new Pipeline(spark, root)
    // an interrupted earlier run: data files but no _SUCCESS
    val leftover = s"$root/weights/shift=s_up"
    Seq((7L, 70.0)).toDF("event", "w").write.parquet(leftover)
    Files.delete(Paths.get(leftover, "_SUCCESS"))
    val outs = pipe.stageShifted("weights", wShifts)(sh => sh(wFrame).select("event", "w"))
    assert(outs("s_up").orderBy("event").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("stageShifted drops task output an interrupted write left under the stage root") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-pipe-tmp").toString
    val pipe = new Pipeline(spark, root)
    // a complete shift from an earlier declaration is kept
    pipe.stageShifted("weights", Seq(Shift("old", Map.empty)))(_ => wFrame.select("event", "w"))
    // a driver that died between task commit and job commit leaves committed
    // task output that the next job commit would merge into the new shift
    val stale = Files.createTempDirectory("graft-pipe-stale").toString
    Seq((7L, 70.0)).toDF("event", "w").write.mode("overwrite").parquet(stale)
    val task = Paths.get(root, "weights", "_temporary", "0", "task_x", "shift=s_up")
    Files.createDirectories(task)
    Files.list(Paths.get(stale)).filter(_.getFileName.toString.endsWith(".parquet"))
      .forEach(p => Files.copy(p, task.resolve(p.getFileName)): Unit)
    Files.write(Paths.get(root, "weights", "part-stray.parquet"), Array[Byte](1, 2, 3))
    val outs = pipe.stageShifted("weights", wShifts)(sh => sh(wFrame).select("event", "w"))
    assert(outs("s_up").orderBy("event").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(!Files.exists(Paths.get(root, "weights", "_temporary")))
    assert(!Files.exists(Paths.get(root, "weights", "part-stray.parquet")))
    val old = pipe.stageShifted("weights", Seq(Shift("old", Map.empty)))(_ => fail("rebuilt"))
    assert(old("old").count() == 2)
  }

  test("stageShifted keeps each shift's own schema when the builds differ") {
    val root = Files.createTempDirectory("graft-pipe-mixed").toString
    val pipe = new Pipeline(spark, root)
    val meta = new MetadataBuilder().putString("unit", "GeV").build()
    var outs = Map.empty[String, DataFrame]
    val writes = writesUnder(root) {
      outs = pipe.stageShifted("weights", wShifts) { sh =>
        val df = sh(wFrame).select("event", "w")
        sh.name match {
          case "s_up" => df.withColumn("w", col("w").cast("float"))
          case "s_down" => df.withMetadata("w", meta)
          case _ => df
        }
      }
    }
    assert(writes == 3) // one job per distinct schema
    assert(outs("nominal").schema("w").dataType == DoubleType)
    assert(outs("s_up").schema("w").dataType == FloatType)
    assert(outs("s_down").schema("w").metadata == meta)
    for (sh <- wShifts)
      assert(outs(sh.name).schema == spark.read.parquet(s"$root/weights/shift=${sh.name}").schema)
    assert(outs("s_up").orderBy("event").collect().map(_.getFloat(1)).toSeq == Seq(11.0f, 22.0f))
  }

  test("stageShifted rejects a shift column and unescapable shift names before building") {
    val root = Files.createTempDirectory("graft-pipe-bad").toString
    val pipe = new Pipeline(spark, root)
    val e1 = intercept[IllegalArgumentException] {
      pipe.stageShifted("weights", wShifts)(sh => sh(wFrame).withColumn("shift", lit("x")))
    }
    assert(e1.getMessage.contains("shift column"))
    var builds = 0
    for (bad <- Seq("jec/up", "a=b", "x:y", "")) {
      val e2 = intercept[IllegalArgumentException] {
        pipe.stageShifted("weights", Seq(Shift.Nominal, Shift(bad, Map.empty))) { sh =>
          builds += 1; sh(wFrame)
        }
      }
      assert(e2.getMessage.contains("partition-path"), bad)
    }
    assert(builds == 0)
    assert(!Files.exists(Paths.get(root, "weights", "shift=nominal", "_SUCCESS")))
  }

  test("checkpoints are zstd parquet with v2 data pages") {
    val root = Files.createTempDirectory("graft-pipe-codec").toString
    val pipe = new Pipeline(spark, root)
    pipe.stage("plain")(wFrame)
    pipe.stageShifted("weights", wShifts)(sh => sh(wFrame).select("event", "w"))
    for (d <- Seq("plain") ++ wShifts.map(sh => s"weights/shift=${sh.name}")) {
      val chunks = columnChunks(s"$root/$d")
      assert(chunks.nonEmpty, d)
      assert(chunks.map(_.getCodec.name).toSet === Set("ZSTD"), d)
      assert(chunks.forall(_.getEncodingStats.usesV2Pages), d)
    }
  }

  test("a shift checkpointed as snappy v1 stays complete and reads back beside new shifts") {
    val root = Files.createTempDirectory("graft-pipe-snappy").toString
    val pipe = new Pipeline(spark, root)
    // a nominal shift as checkpoints were written before zstd: snappy, v1 pages
    val old = s"$root/weights/shift=nominal"
    val nominal = wFrame.select("event", "w")
    nominal.write.option("compression", "snappy").parquet(old)
    Files.write(Paths.get(old, "_GRAFT_VERSION"), "v1".getBytes("UTF-8"))
    Files.write(Paths.get(old, "_GRAFT_SCHEMA"),
      ColumnBridge.asNullable(nominal.schema).json.getBytes("UTF-8"))
    assert(columnChunks(old).map(_.getCodec.name).toSet === Set("SNAPPY"))
    val built = scala.collection.mutable.ArrayBuffer.empty[String]
    val outs = pipe.stageShifted("weights", wShifts, "v1") { sh =>
      built += sh.name; sh(wFrame).select("event", "w")
    }
    assert(built === Seq("s_up", "s_down"))
    assert(columnChunks(s"$root/weights/shift=s_up").map(_.getCodec.name).toSet === Set("ZSTD"))
    assert(outs("nominal").orderBy("event").collect().map(_.getDouble(1)).toSeq === Seq(10.0, 20.0))
    // both formats read as one partitioned table
    val all = spark.read.parquet(s"$root/weights").orderBy("shift", "event").collect()
      .map(r => (r.getAs[String]("shift"), r.getAs[Double]("w"))).toSeq
    assert(all === Seq("nominal" -> 10.0, "nominal" -> 20.0, "s_down" -> 9.0, "s_down" -> 18.0,
      "s_up" -> 11.0, "s_up" -> 22.0))
  }

  test("checkpoints read back with the schema Spark infers, without a job on a hit") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-pipe-schema").toString
    val pipe = new Pipeline(spark, root)
    val meta = new MetadataBuilder().putString("unit", "GeV").build()
    def nested = Seq((1L, Seq((1.5f, Seq(1, 2))), Map("a" -> (2.0, "x"))),
        (2L, Seq.empty[(Float, Seq[Int])], Map.empty[String, (Double, String)]))
      .toDF("event", "Jet", "aux")
      .withColumn("Jet", col("Jet").cast("array<struct<pt:float,idx:array<int>>>"))
      .withColumn("ht", lit(3.0)).withMetadata("ht", meta)
    val out = pipe.stage("nested")(nested)
    val inferred = spark.read.parquet(s"$root/nested").schema
    assert(out.schema == inferred)
    assert(out.schema("ht").metadata == meta)
    assert(jobsDuring(assert(pipe.stage("nested")(fail("rebuilt")).schema == inferred)) == 0)
    val shifted = pipe.stageShifted("nestedS", Seq(Shift.Nominal))(_ => nested)
    assert(shifted("nominal").schema == spark.read.parquet(s"$root/nestedS/shift=nominal").schema)
    assert(shifted("nominal").orderBy("event").head.getAs[Map[String, Any]]("aux").keySet == Set("a"))
  }

  test("a checkpoint without a recorded schema is rebuilt") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-pipe-noschema").toString
    val pipe = new Pipeline(spark, root)
    var builds = 0
    def build = { builds += 1; Seq((1L, 2.0)).toDF("event", "x") }
    pipe.stage("calib")(build)
    Files.delete(Paths.get(root, "calib", "_GRAFT_SCHEMA"))
    assert(pipe.stage("calib")(build).count() == 1)
    assert(builds == 2)
  }

  test("portable fold matches its SQL mirror and is stable") {
    val s = spark
    import s.implicits._
    val df = (1L to 200L).toDF("k").withColumn("ks", col("k").cast("string"))
    val viaCol = df.select(Seeds.fold(5, col("ks")).as("f")).collect().map(_.getInt(0)).toSeq
    val viaSql = df.selectExpr(Seeds.foldSql(5, "ks") + " AS f").collect().map(_.getInt(0)).toSeq
    assert(viaCol == viaSql)
    assert(viaCol.toSet.subsetOf((0 until 5).toSet))
    // all folds populated for 200 keys
    assert(viaCol.distinct.size == 5)
  }

  test("BinnedTable lookups clamp flow and mirror their SQL") {
    val s = spark
    import s.implicits._
    val lut = BinnedTable.Lookup1D(Axis.Regular("pt", 4, 0.0, 40.0),
      IndexedSeq(1.0, 2.0, 3.0, 4.0))
    val df = Seq(-5.0, 5.0, 15.0, 39.9, 40.0, 99.0).toDF("pt")
    val got = df.select(lut(col("pt"))).collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(1.0, 1.0, 2.0, 4.0, 4.0, 4.0)) // clamped at both ends
    val lut2 = BinnedTable.Lookup2D(
      Axis.Regular("x", 2, 0.0, 2.0), Axis.Regular("y", 2, 0.0, 2.0),
      IndexedSeq(IndexedSeq(1.0, 2.0), IndexedSeq(3.0, 4.0)))
    val v = Seq((1.5, 0.5)).toDF("x", "y")
      .select(lut2(col("x"), col("y"))).head.getDouble(0)
    assert(v == 3.0)
  }
}
