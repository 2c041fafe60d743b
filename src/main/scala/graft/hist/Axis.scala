package graft.hist

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Histogram axis specifications — Spark restatement of the reference's
  * axis factory (reference `add_hist_axis`: columnflow/hist_util.py:145-208;
  * axis types variable/regular/integer/boolean/intcat/strcat).
  *
  * Each axis compiles the value column to an integer bin id:
  *   -1 = underflow, [0, nBins) = in-range, nBins = overflow.
  * The reference's last-edge-inclusive semantics are honored: a value
  * exactly on the last edge lands in the last bin, not overflow
  * (reference: columnflow/hist_util.py:49-84).
  */
sealed trait Axis {
  def name: String
  def nBins: Int
  /** Bin id expression (integer). */
  def binId(value: Column): Column
  /** SQL rendering of binId over expression `e` — for DuckDB oracles. */
  def binIdSql(e: String): String
}

object Axis {

  /** Regular binning: n uniform bins over [lo, hi). */
  final case class Regular(name: String, n: Int, lo: Double, hi: Double) extends Axis {
    val nBins: Int = n
    private val w = (hi - lo) / n
    def binId(v: Column): Column =
      when(v.isNull, lit(null))
        .when(v < lo, -1)
        .when(v === hi, n - 1) // last-edge-inclusive
        .when(v >= hi, n)
        // least(..., n-1): when w is not exactly representable, a value
        // strictly below hi can still floor to n — clamp so it never
        // collides with the overflow bin.
        .otherwise(least(floor((v - lo) / w), lit(n - 1)).cast("int"))
    def binIdSql(e: String): String =
      s"CASE WHEN $e IS NULL THEN NULL WHEN $e < $lo THEN -1 WHEN $e = $hi THEN ${n - 1} " +
        s"WHEN $e >= $hi THEN $n ELSE CAST(LEAST(FLOOR(($e - ($lo)) / $w), ${n - 1}) AS INT) END"
  }

  /** Variable binning over explicit ascending edges. */
  final case class Variable(name: String, edges: Seq[Double]) extends Axis {
    require(edges.size >= 2 && edges.sliding(2).forall(p => p(0) < p(1)),
      "edges must be ascending")
    val nBins: Int = edges.size - 1
    /** One [[VariableBin]] kernel over the value as a double: the same
      * ids as [[binIdSql]], reading the value once. */
    def binId(v: Column): Column =
      ColumnBridge.column(VariableBin(ColumnBridge.expression(v.cast("double")), edges.toIndexedSeq))
    def binIdSql(e: String): String = {
      val lo = edges.head; val hi = edges.last
      val chain = edges.init.indices.map { i =>
        s"WHEN $e < ${edges(i + 1)} THEN $i"
      }.mkString(" ")
      s"CASE WHEN $e IS NULL THEN NULL WHEN $e < $lo THEN -1 WHEN $e = $hi THEN ${nBins - 1} " +
        s"WHEN $e >= $hi THEN $nBins ELSE CAST(CASE $chain END AS INT) END"
    }
  }

  /** Integer axis: one bin per integer in [lo, hi]. */
  final case class Integer(name: String, lo: Int, hi: Int) extends Axis {
    val nBins: Int = hi - lo + 1
    def binId(v: Column): Column =
      when(v.isNull, lit(null))
        .when(v < lo, -1).when(v > hi, nBins)
        .otherwise((v - lo).cast("int"))
    def binIdSql(e: String): String =
      s"CASE WHEN $e IS NULL THEN NULL WHEN $e < $lo THEN -1 WHEN $e > $hi THEN $nBins " +
        s"ELSE CAST($e - ($lo) AS INT) END"
  }

  /** Boolean axis: false=0, true=1. */
  final case class Bool(name: String) extends Axis {
    val nBins: Int = 2
    def binId(v: Column): Column = v.cast("int")
    def binIdSql(e: String): String = s"CAST($e AS INT)"
  }

  /** Categorical axis over declared values; everything else → overflow bin
    * (growth axes are handled at merge time by the bin-table union). */
  final case class IntCat(name: String, values: Seq[Long]) extends Axis {
    val nBins: Int = values.size
    def binId(v: Column): Column = {
      val m = values.zipWithIndex.foldLeft(lit(nBins): Column) {
        case (acc, (value, i)) => when(v === value, i).otherwise(acc)
      }
      when(v.isNull, lit(null)).otherwise(m.cast("int"))
    }
    def binIdSql(e: String): String = {
      val chain = values.zipWithIndex.map { case (value, i) => s"WHEN $e = $value THEN $i" }.mkString(" ")
      s"CASE WHEN $e IS NULL THEN NULL ELSE CAST(CASE $chain ELSE ${nBins} END AS INT) END"
    }
  }

  final case class StrCat(name: String, values: Seq[String]) extends Axis {
    val nBins: Int = values.size
    def binId(v: Column): Column = {
      val m = values.zipWithIndex.foldLeft(lit(nBins): Column) {
        case (acc, (value, i)) => when(v === value, i).otherwise(acc)
      }
      when(v.isNull, lit(null)).otherwise(m.cast("int"))
    }
    def binIdSql(e: String): String = {
      val chain = values.zipWithIndex.map { case (value, i) => s"WHEN $e = '$value' THEN $i" }.mkString(" ")
      s"CASE WHEN $e IS NULL THEN NULL ELSE CAST(CASE $chain ELSE ${nBins} END AS INT) END"
    }
  }
}
