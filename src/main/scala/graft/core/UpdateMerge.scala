package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The diff-column merge — columnflow's signature dataflow join (SURVEY
  * §2.4; reference `update_ak_array`: columnflow/columnar_util.py:905-990).
  *
  * Every stage emits only the columns it produced ("diffs") keyed by the
  * stable event identity; downstream stages re-assemble the full row with
  * an equi-join and a per-route overlap policy:
  *   - Overwrite (default): diff value replaces the base value
  *   - Add: numeric sum
  *   - Concat: array concatenation along the object axis
  *     (reference concat policy: columnflow/columnar_util.py:908-929)
  *
  * At scale this is a shuffle join on the key; writing both sides bucketed
  * by the key (see `bucketedCheckpoint`) makes it shuffle-free. The driver
  * testdata's key is a single long; event data uses
  * (run, luminosityBlock, event).
  */
object UpdateMerge {

  sealed trait Policy
  object Policy {
    case object Overwrite extends Policy
    case object Add extends Policy
    case object Concat extends Policy
  }

  /** Merge a diff DataFrame into a base, joined on `keys`. Columns present
    * only in the diff are added; overlapping non-key columns follow
    * `policies` (default Overwrite). Rows of `base` without a diff row keep
    * their values (left join + coalesce). */
  def merge(base: DataFrame, diff: DataFrame, keys: Seq[String],
            policies: Map[String, Policy] = Map.empty): DataFrame = {
    // Disambiguate overlap by renaming diff columns, then fold them in.
    val overlap = diff.columns.toSet.intersect(base.columns.toSet) -- keys
    val diffOnly = diff.columns.toSet -- base.columns.toSet -- keys
    val renamed = overlap.foldLeft(diff)((d, c) => d.withColumnRenamed(c, s"__diff_$c"))
    val joined = base.join(renamed, keys, "left")
    val merged = overlap.foldLeft(joined) { (df, c) =>
      val b = df(c); val d = df(s"__diff_$c")
      val v = policies.getOrElse(c, Policy.Overwrite) match {
        case Policy.Overwrite => coalesce(d, b)
        case Policy.Add       => coalesce(b + d, b, d)
        // concat is null-intolerant: a null base with a non-null diff must
        // yield the diff (symmetric with Overwrite/Add coalescing).
        case Policy.Concat    =>
          when(d.isNull, b).when(b.isNull, d).otherwise(concat(b, d))
      }
      df.withColumn(c, v).drop(s"__diff_$c")
    }
    // left-join nulls for diff-only columns are legitimate (no diff row).
    merged.select((base.columns ++ diffOnly.toSeq.sorted).map(col): _*)
  }

  /** Row-level upsert (SQL MERGE semantics) — the companion of [[merge]]
    * one level up: where `merge` folds new COLUMNS into existing rows,
    * `upsertRows` folds new ROWS into an existing table.
    *
    *   - update: an update row whose keys match a base row replaces it
    *     (column-wise: update values win, base fills update-side nulls
    *     for columns the update doesn't carry)
    *   - insert: update rows with no base match are appended
    *   - delete: update rows with `deleteCol` = true remove the base row
    *
    * LIMITATION: because the column-wise resolution is
    * `coalesce(update, base)`, an update can never set an existing
    * column to an explicit NULL — the base value resurrects. Model
    * "clear this field" as a sentinel value or a delete+insert pair.
    *
    * One shuffle join on the key (full-outer); both sides bucketed by the
    * key (see [[bucketedCheckpoint]]) makes the 100 TB incremental load
    * shuffle-free. Updates must be unique per key — enforce upstream, as
    * duplicate update keys would fan out the join. */
  def upsertRows(base: DataFrame, updates: DataFrame, keys: Seq[String],
                 deleteCol: Option[String] = None): DataFrame = {
    val dataCols = base.columns.filterNot(keys.contains).toSeq
    val updCols = updates.columns.toSet
    require(keys.forall(updCols), s"updates must carry the keys $keys")
    // a base data column with the delete marker's name would be consumed
    // by the __del rename and break the final select — fail fast instead
    deleteCol.foreach { d =>
      require(!dataCols.contains(d),
        s"upsertRows: base carries a data column named '$d' (the deleteCol); rename one of them")
    }
    val renamed = dataCols.filter(updCols).foldLeft(
      deleteCol.map(c => updates.withColumnRenamed(c, "__del")).getOrElse(updates)) {
      (d, c) => d.withColumnRenamed(c, s"__upd_$c")
    }
    val joined = base.join(renamed, keys, "full_outer")
    val kept = deleteCol match {
      case Some(_) => joined.filter(!coalesce(col("__del"), lit(false)))
      case None    => joined
    }
    kept.select(keys.map(col) ++ dataCols.map { c =>
      (if (updCols(c)) coalesce(col(s"__upd_$c"), col(c)) else col(c)).as(c)
    }: _*)
  }

  /** CDC log compaction: the latest-version row per key wins, a delete
    * op drops the key — the change-stream → table materialization step
    * (the lakehouse MERGE's read side). ONE aggregate does it:
    * `max(struct(version, payload…))` picks the last writer with full
    * map-side partial aggregation, so 100 TB of change log compacts
    * through a key-width shuffle — never a window (which would sort
    * every key's history) and never a self-join on max-version.
    *
    * `versionCol` must be non-null and unique per key (ties would make
    * the winning payload depend on struct-comparison of payload fields —
    * use a (ts, seq) encoding collapsed to one orderable column
    * upstream; a null version sorts below every real one).
    * Returns keys + payload of the winner + `n_changes`, delete-winners
    * excluded. */
  def cdcCompact(log: DataFrame, keys: Seq[String], versionCol: String,
                 opCol: String, deleteOp: String = "D"): DataFrame = {
    val payload = log.columns.filterNot(c => keys.contains(c) || c == versionCol)
    val ordered = struct(col(versionCol) +: payload.map(col): _*)
    log.groupBy(keys.map(col): _*)
      .agg(max(ordered).as("__last"), count(lit(1)).as("n_changes"))
      .filter(col(s"__last.$opCol") =!= deleteOp)
      .select(keys.map(col) ++ Seq(col(s"__last.$versionCol").as(versionCol)) ++
        payload.filterNot(_ == opCol).map(c => col(s"__last.$c").as(c)) :+
        col("n_changes"): _*)
  }

  /** Write a stage checkpoint bucketed by the merge key so downstream
    * merges are co-partitioned zip-joins without a shuffle — the Spark
    * equivalent of the reference's positionally-zipped chunk files
    * (reference: columnflow/columnar_util.py:3446-3462). Requires a table
    * path (saveAsTable) because plain parquet files don't carry bucket
    * metadata. */
  def bucketedCheckpoint(df: DataFrame, table: String, keys: Seq[String],
                         buckets: Int = 256): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
