package graft.hist

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.Compat

/** N-dimensional weighted histograms as bin tables — the engine's central
  * aggregate (SURVEY §2.5; reference `fill_hist`:
  * columnflow/hist_util.py:30-142, variance-tracking storage).
  *
  * A histogram is a DataFrame `(<axis>_bin: int ..., sumw: double,
  * sumw2: double)`. Fill = groupBy(bin ids).agg(sum w, sum w²) — map-side
  * partial aggregation makes this a single shuffle of ~nBins rows per
  * partition regardless of input size, which is why the bin-table
  * representation scales to 100 TB where the reference's in-memory dense
  * tensor OOMs (reference: columnflow/hist_util.py:140-142).
  *
  * Weights go through exact decimal arithmetic (Compat) so merged/refilled
  * histograms are bit-reproducible and oracle-comparable.
  */
object HistTable {

  /** Fill: one row per populated bin combination. `weight` defaults to 1.
    * Rows with any null bin id (null value on a non-null axis) are dropped,
    * matching the reference's masked fill. */
  /** @param integerSumw2 floor sumw2 to whole units before the double cast:
    *   at 1e12+ magnitudes a decimal→double conversion can differ by 1 ulp
    *   across engines, while integers below 2^53 convert exactly — turn
    *   this on for oracle-compared fills with large weights. (floor, not
    *   round: DuckDB truncates decimal downcasts where Spark rounds.) */
  def fill(df: DataFrame, axes: Seq[(Axis, Column)], weight: Column = lit(1.0),
           integerSumw2: Boolean = false): DataFrame = {
    val binCols = axes.map { case (ax, v) => ax.binId(v).as(s"${ax.name}_bin") }
    val w = Compat.money(weight)
    val sumw2 = sum(col("__w") * col("__w"))
    df.select(binCols :+ w.as("__w"): _*)
      .filter(axes.map(a => col(s"${a._1.name}_bin").isNotNull).reduceOption(_ && _).getOrElse(lit(true)))
      .groupBy(axes.map(a => col(s"${a._1.name}_bin")): _*)
      .agg(
        sum(col("__w")).cast("double").as("sumw"),
        (if (integerSumw2) floor(sumw2) else sumw2)
          .cast("double").as("sumw2"),
        count(lit(1)).as("n"))
  }

  /** Merge histograms: union + re-aggregate (reference `sum_hists`:
    * columnflow/hist_util.py:384-417; MergeHistograms
    * columnflow/tasks/histograms.py:449-490). Exactness note: merging
    * tables whose sumw came from decimal sums re-sums doubles; for
    * bit-reproducible merges keep weights decimal until the last merge. */
  def merge(hists: Seq[DataFrame]): DataFrame = {
    require(hists.nonEmpty)
    val binCols = hists.head.columns.filter(_.endsWith("_bin")).toSeq
    resum(hists.reduce(_ unionByName _), binCols)
  }

  /** Reduce away an axis by summing over it (reference residual-axis
    * reduction: columnflow/plotting/plot_util.py:400-446). */
  def project(hist: DataFrame, dropAxis: String): DataFrame = {
    val keep = hist.columns.filter(c => c.endsWith("_bin") && c != s"${dropAxis}_bin").toSeq
    resum(hist, keep)
  }

  /** Fold under/overflow bins into the edge bins (reference flow folding:
    * columnflow/plotting/plot_util.py:331-382). */
  def foldFlow(hist: DataFrame, axis: Axis): DataFrame = {
    val b = col(s"${axis.name}_bin")
    val folded = hist.withColumn(s"${axis.name}_bin",
      when(b === -1, 0).when(b === axis.nBins, axis.nBins - 1).otherwise(b))
    resum(folded, hist.columns.filter(_.endsWith("_bin")).toSeq)
  }

  /** Equal-factor rebin of a regular axis (reference equal-width rebin:
    * columnflow/plotting/plot_util.py:1040-1086). Flow bins pass through —
    * underflow stays −1, overflow is REMAPPED from nBins to
    * ceil(nBins/factor), so when factor divides nBins the output is
    * exactly the bin table of `Regular(nBins/factor, lo, hi)` (q138
    * oracles rebin ≡ direct coarse fill, flow rows included); otherwise
    * the final in-range bin is ragged (narrower), matching the reference. */
  def rebin(hist: DataFrame, axis: Axis, factor: Int): DataFrame = {
    require(factor >= 1)
    val nOut = (axis.nBins + factor - 1) / factor
    val b = col(s"${axis.name}_bin")
    val re = hist.withColumn(s"${axis.name}_bin",
      when(b === -1, b)
        .when(b === axis.nBins, lit(nOut))
        .otherwise(floor(b / factor)).cast("int"))
    resum(re, hist.columns.filter(_.endsWith("_bin")).toSeq)
  }

  /** Category-bin selection over a category DAG (reference
    * select_category_bins: columnflow/hist_util.py:418-515, ensure_bin_exists
    * :482, merge_axis_bins :563): each requested category id prefers its own
    * bin when the table has one (parent preference); otherwise its leaves'
    * bins are re-summed under the parent's id. The distinct-value collect is
    * O(nBins) on an already-tiny bin table, never on event data. */
  def selectCategories(hist: DataFrame, axis: String, requested: Seq[Long],
                       dag: Map[Long, Seq[Long]]): DataFrame = {
    val bin = s"${axis}_bin"
    val present = hist.select(col(bin).cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet
    def leaves(c: Long): Seq[Long] =
      dag.get(c).filter(_.nonEmpty).map(_.flatMap(leaves)).getOrElse(Seq(c))
    val others = hist.columns.filter(c => c.endsWith("_bin") && c != bin).toSeq
    val slices = requested.map { c =>
      if (present(c)) hist.filter(col(bin) === c)
      else
        resum(hist.filter(col(bin).isin(leaves(c): _*)), others)
          .withColumn(bin, lit(c).cast(hist.schema(bin).dataType))
          .select(hist.columns.map(col).toSeq: _*)
    }
    slices.reduce(_ unionByName _)
  }

  /** Re-aggregate a bin table's value columns (sumw, sumw2, n) over
    * `binCols` — the one re-sum behind merge, projection, flow folding,
    * rebinning and category re-summing. */
  private def resum(hist: DataFrame, binCols: Seq[String]): DataFrame =
    hist.groupBy(binCols.map(col): _*)
      .agg(sum("sumw").as("sumw"), sum("sumw2").as("sumw2"), sum("n").as("n"))

  /** Relabel an int-category bin axis with names from a dim table —
    * (reference translate_hist_intcat_to_strcat:
    * columnflow/hist_util.py:307-329). `mapping` is (id:int, name:string). */
  def relabel(hist: DataFrame, axis: String, mapping: DataFrame,
              idCol: String, nameCol: String): DataFrame =
    hist.join(broadcast(mapping), hist(s"${axis}_bin") === mapping(idCol), "left")
      .drop(s"${axis}_bin").drop(idCol)
      .withColumnRenamed(nameCol, axis)
}
