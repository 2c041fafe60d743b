package perfbench

import graft.calibration.JecChain
import graft.core.{SchemaOps, UpdateMerge}
import graft.hist.{Axis, HistTable}
import graft.kinematics.Kinematics
import graft.lookup.Payload
import graft.ops._
import graft.pipeline.{Pipeline, Shift}
import graft.stats.{SelectionStats, Stitching}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The columnflow chain over NanoAOD-shaped events:
  * calibrate → (per shift) select → reduce → produce (selection stats →
  * stitched normalization, variables, categories) → histograms,
  * every step a versioned checkpoint of the library's `Pipeline`.
  *
  * The reference check (reference.py) restates each cut, correction and
  * binning below in DuckDB SQL; a change here must be mirrored there. */
final class Hep(spark: SparkSession, tracer: Tracer, events: DataFrame, payloadPath: String,
                mutate: String) {
  import Hep._

  private val payload = Payload.loadFile(payloadPath)
  private val jec = JecChain(levels = Seq(payload("L1"), payload("L2")),
    uncSources = Seq("jec" -> payload("Unc")))

  private object calibrator extends Calibrator {
    val name = "jec"
    override def uses = Set[Dep]("Jet.pt", "Jet.eta", "Jet.rawFactor")
    override def produces = Set[Dep]("Jet.pt", "Jet.pt_raw", "Jet.pt_jec_up", "Jet.pt_jec_down")
    def apply(df: DataFrame): DataFrame =
      SchemaOps.mapCollection(df, "Jet", j => {
        val r = jec(jec.undoRaw(j.getField("pt"), j.getField("rawFactor")),
          "JetEta" -> j.getField("eta"))
        Map("pt" -> r.pt, "pt_raw" -> r.ptRaw) ++ r.shifts.map { case (n, c) => s"pt_$n" -> c }
      })
  }

  private object selector extends Selector {
    val name = "jet_muon"
    override def uses = Set[Dep]("Jet.pt", "Jet.eta", "Jet.jetId", "Muon.pt", "Muon.eta",
      "Muon.pfRelIso04_all", "genWeight")
    private def indices(coll: String, ok: Column => Column): Column =
      filter(transform(col(coll), (o, i) => struct(i.as("i"), ok(o).as("ok"))),
        _.getField("ok")).getField("i")
    def select(df: DataFrame): SelectionResult = {
      val jets = indices("Jet", j => j.getField("pt") > 30.0 &&
        abs(j.getField("eta")) < 2.4 && j.getField("jetId") >= 2)
      val muons = indices("Muon", m => m.getField("pt") > 20.0 &&
        abs(m.getField("eta")) < 2.4 && m.getField("pfRelIso04_all") < 0.15)
      SelectionResult(
        steps = Map("jet" -> (size(jets) >= 1), "muon" -> (size(muons) >= 1)),
        objects = Map("Jet" -> Map("GoodJet" -> jets), "Muon" -> Map("GoodMuon" -> muons)),
        aux = Map("mc_weight" -> col("genWeight"), "leaf" -> least(size(col("Jet")), lit(2))))
    }
  }

  private object features extends Producer {
    val name = "features"
    override def uses = Set[Dep]("GoodJet.pt", "GoodJet.eta")
    override def produces = Set[Dep]("ht", "n_jet", "lead_jet_pt", "jet_eta")
    def apply(df: DataFrame): DataFrame = df
      .withColumn("ht", Kinematics.scalarSum(col("GoodJet.pt")))
      .withColumn("n_jet", size(col("GoodJet")))
      .withColumn("lead_jet_pt", array_max(col("GoodJet.pt")))
      .withColumn("jet_eta", element_at(col("GoodJet.eta"), 1).cast("double"))
  }

  private final case class Cat(id: Long, name: String, cut: Column) extends Categorizer {
    def mask(df: DataFrame): Column = cut
  }
  private val categories = Seq(
    Cat(0, "incl", lit(true)),
    Cat(1, "1j", col("n_jet") === 1),
    Cat(2, "2j", col("n_jet") >= 2),
    Cat(3, "high_ht", col("ht") > 250.0),
    Cat(4, "low_ht", col("ht") <= 250.0))

  /** Stitched normalization weight per jet-multiplicity leaf: run 1 is the
    * inclusive dataset, run 2 the exclusive two-jet one. */
  private def normalization(selected: DataFrame): Map[String, Double] = {
    val stats = SelectionStats.compute(selected, col("selected"),
      Map("mc_weight" -> col("mc_weight")), Seq("run", "leaf")).collect()
    stats.find(r => r.isNullAt(r.fieldIndex("run")) && r.isNullAt(r.fieldIndex("leaf"))).foreach { all =>
      tracer.gauge("ops.selected", all.getAs[Long]("num_events_selected").toDouble)
      tracer.gauge("ops.read", all.getAs[Long]("num_events").toDouble)
    }
    val rows = stats.filterNot(r => r.isNullAt(r.fieldIndex("run")) || r.isNullAt(r.fieldIndex("leaf")))
    def sums(run: Long) = rows.filter(_.getAs[Long]("run") == run)
      .map(r => r.getAs[Int]("leaf").toString -> BigDecimal(r.getAs[Double]("sum_mc_weight"))).toMap
    val root = Stitching.Proc("all", Seq("0", "1", "2").map(Stitching.Proc(_)))
    tracer.span("stats", "stitching") {
      Stitching.stitchedNorm(root, CrossSection, sums(1), Seq(sums(1), sums(2)))
    }
  }

  private def stage(pipe: Pipeline, root: String, name: String, version: String)(
      build: => DataFrame): DataFrame = {
    var built = false
    val out = tracer.span("pipeline", s"stage:$name") {
      pipe.stage(name, version) { built = true; build }
    }
    tracer.stageCall(root, name, built)
    out
  }

  private def stageShifted(pipe: Pipeline, root: String, name: String)(
      build: Shift => DataFrame): Map[String, DataFrame] = {
    val built = scala.collection.mutable.Set.empty[String]
    val out = tracer.span("pipeline", s"stage:$name") {
      pipe.stageShifted(name, Shifts, UpstreamVersion) { s => built += s.name; build(s) }
    }
    Shifts.foreach(s => tracer.stageCall(root, s"$name/shift=${s.name}", built(s.name)))
    out
  }

  private def merge(base: DataFrame, diff: DataFrame): DataFrame =
    tracer.span("core", "merge") { tracer.boundary(UpdateMerge.merge(base, diff, Keys)) }

  /** One pass of the chain under `root`. Stages whose checkpoint exists at
    * the same version are skipped; the histogram stage is versioned by
    * `histVersion`. Returns the histogram table. */
  def run(root: String, binning: Binning, histVersion: String): DataFrame = {
    val pipe = new Pipeline(spark, root)
    val calib = stage(pipe, root, "calibrate", UpstreamVersion) {
      tracer.span("calibration", "jec") {
        tracer.boundary(calibrator.applyChecked(events.select((Keys :+ "Jet").map(col): _*)))
      }
    }
    val selected = stageShifted(pipe, root, "select") { s =>
      val df = s(merge(events.drop("Jet"), calib))
      tracer.span("ops", "select") {
        val r = selector.select(df)
        // SelectionResult.columns leads with the event mask named "event",
        // which would clash with the event-number key
        tracer.boundary(df.select(Keys.map(col) ++ (r.eventMask.as("selected") +: r.columns.tail): _*))
      }
    }
    val reduced = stageShifted(pipe, root, "reduce") { s =>
      val df = s(merge(merge(events.drop("Jet"), calib), selected(s.name)))
      tracer.span("ops", "reduce") {
        tracer.boundary(Reducers.default(df, SelectionResult(
          steps = Map("selected" -> col("selected")),
          objects = Map(
            "Jet" -> Map("GoodJet" -> col("objects.Jet.GoodJet")),
            "Muon" -> Map("GoodMuon" -> col("objects.Muon.GoodMuon")))))
          .select((Keys ++ Seq("GoodJet", "GoodMuon", "MET", "mc_weight", "leaf")).map(col): _*))
      }
    }
    val produced = stageShifted(pipe, root, "produce") { s =>
      val norm = tracer.span("stats", "selection_stats") { normalization(selected(s.name)) }
      tracer.span("ops", "produce") {
        val lut = map(norm.toSeq.sortBy(_._1).flatMap { case (k, v) =>
          Seq(lit(k.toInt), lit(v)) }: _*)
        val w0 = col("mc_weight") * element_at(lut, col("leaf"))
        val w = if (mutate == "hist_weight") when(col("event") % 97 === 0, w0 * 1.001).otherwise(w0)
                else w0
        val df = features.applyChecked(reduced(s.name)).withColumn("weight", w)
        val cats = array_compact(array(categories.map(c => when(c.mask(df), lit(c.id))): _*))
        tracer.boundary(df.withColumn("cats", cats)
          .select((Keys ++ features.producedRoutes.map(_.toString).toSeq.sorted ++
            Seq("weight", "cats")).map(col): _*))
      }
    }
    stage(pipe, root, "hist", histVersion) {
      Shifts.flatMap { s =>
        // every fill of this shift reads it
        val full = merge(reduced(s.name), produced(s.name)).withColumn("cat", explode(col("cats")))
          .persist()
        binning.variables.map { case (name, axis) =>
          val perDataset = Datasets.map { run =>
            tracer.span("hist", "fill") {
              tracer.boundary(HistTable.fill(full.filter(col("run") === run),
                Seq(axis -> col(name), CatAxis -> col("cat")), weight = col("weight")))
            }
          }
          tracer.span("hist", "merge") { tracer.boundary(HistTable.merge(perDataset)) }
            .select(lit(s.name).as("shift"), lit(name).as("variable"),
              col(s"${name}_bin").as("bin"), col("cat_bin"), col("n"), col("sumw"), col("sumw2"))
        }
      }.reduce(_ unionByName _)
    }
  }
}

object Hep {
  val Keys: Seq[String] = Seq("run", "luminosityBlock", "event")
  val Shifts: Seq[Shift] = Shift.Nominal +: Shift.pair("jec", "Jet.pt")
  val UpstreamVersion = "v1"
  val Datasets: Seq[Long] = Seq(1L, 2L)
  val CrossSection = 1000.0
  val CatAxis: Axis = Axis.IntCat("cat", Seq(0L, 1L, 2L, 3L, 4L))

  /** Histogram binning variants; `hep_rehist` cycles through them, and
    * the odd ones add a variable. */
  final case class Binning(id: Int, nBins: Int, withLeadJet: Boolean) {
    def variables: Seq[(String, Axis)] = Seq(
      "ht" -> Axis.Regular("ht", nBins, 0.0, 1500.0),
      "n_jet" -> Axis.Integer("n_jet", 0, 12)) ++
      (if (withLeadJet) Seq("lead_jet_pt" -> Axis.Regular("lead_jet_pt", nBins, 0.0, 600.0)) else Nil)
  }
  val Binnings: Seq[Binning] =
    Seq(Binning(0, 40, false), Binning(1, 25, true), Binning(2, 50, false), Binning(3, 30, true))
}
