package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming transforms for the event-stream shape of the
  * testdata (`events`: event_id, ts, user_id, event_type, value).
  *
  * The reference is batch-only (SURVEY §2.10) — this layer is part of the
  * beyond-reference surface: the same rollup/sessionization semantics the
  * batch queries q15/q19 verify, expressed as incremental streaming plans.
  * State size is bounded by the watermark: late data beyond it is dropped
  * and completed windows/sessions are evicted, which is what makes these
  * viable as always-on jobs over an unbounded 100 TB/day firehose.
  *
  * All transforms take/return DataFrames, so they run identically on a
  * `readStream` source and (for testing) on a batch frame via the same
  * code path with `groupBy` — semantics verified in StreamingSpec with
  * MemoryStream feeds.
  */
object EventStream {

  /** Tumbling- or sliding-window rollup per event type: the streaming
    * twin of q15_daily_rollup (and, with `slide`, of q159's overlapping
    * windows — each event lands in len/slide window states, all evicted
    * together at the watermark). Emits one row per (window, event_type)
    * with count and an exact decimal value sum. */
  def windowedRollup(events: DataFrame, ts: String = "ts",
                     windowLen: String = "1 hour",
                     watermark: String = "2 hours",
                     slide: Option[String] = None): DataFrame =
    events
      .withWatermark(ts, watermark)
      .groupBy(
        slide.map(s => window(col(ts), windowLen, s))
          .getOrElse(window(col(ts), windowLen)),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))

  /** Windowed distinct-user estimate via the KMV sketch aggregate
    * ([[graft.operators.Sketches]]): an always-on COUNT DISTINCT whose
    * per-window state is O(k) longs — the state-store entry for a window
    * over a 100 TB/day firehose never grows past the sketch buffer,
    * unlike exact streaming distinct (state = every key seen). Estimates
    * are exact below k; the sketch column is also emitted so downstream
    * consumers can merge windows (`Sketches.kmvMerge`) into coarser
    * rollups without re-reading the stream. */
  def windowedDistinctSketch(events: DataFrame, k: Int = 64,
                             ts: String = "ts", keyCol: String = "user_id",
                             windowLen: String = "1 hour",
                             watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(ts, watermark)
      .groupBy(window(col(ts), windowLen))
      .agg(graft.operators.Sketches.kmvSketch(col(keyCol), k).as("kmv"))
      .select(col("window.start").as("win_start"), col("kmv"),
        graft.operators.Sketches.kmvEstimate(col("kmv"), k).as("est_distinct"))

  /** Gap-based session windows per user: the streaming twin of
    * q19_sessionize (30-minute inactivity gap). `session_window` keeps one
    * state entry per open session; the watermark closes and emits them. */
  def sessionizedActivity(events: DataFrame, ts: String = "ts",
                          gap: String = "30 minutes",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(ts, watermark)
      .groupBy(session_window(col(ts), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))

  /** Streaming dedup on event identity within the watermark horizon —
    * exactly-once semantics over an at-least-once source. */
  def dedup(events: DataFrame, ts: String = "ts",
            watermark: String = "2 hours"): DataFrame =
    events.withWatermark(ts, watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stateless streaming document curation: quality filter + deterministic
    * stratified mixture sampling over a document stream — the streaming
    * face of `Curation.stratifiedSample`. Pure map-side column work, so it
    * needs no state store or watermark; and because the keep decision is a
    * pure function of (doc id, source rate), replayed or duplicated
    * micro-batches make identical decisions — at-least-once delivery
    * composes with downstream idempotent writes without a dedup stage. */
  def curatedDocs(docs: DataFrame, rates: Map[String, Double],
                  minQuality: Double = 0.5, groupCol: String = "source",
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.operators.Curation.stratifiedSample(
      // inline predicate: adds no column, so caller-owned columns (e.g. an
      // upstream model's own `quality`) pass through untouched
      docs.filter(graft.functions.Text.qualityScore(col(textCol)) >= minQuality),
      rates, groupCol, idCol)

  /** Incremental histogram fill: the streaming twin of `HistTable.fill`,
    * windowed so state stays bounded. Each emitted row is a bin-table
    * fragment `(window, <axis>_bin…, sumw, sumw2, n)`; downstream,
    * `HistTable.merge` (drop/project the window) re-aggregates fragments
    * into the batch-identical histogram — the same partial-fill ≡ one-pass
    * law q60 proves for batch. */
  def histFill(events: DataFrame, axes: Seq[(graft.hist.Axis, Column)],
               weight: Column = lit(1.0), ts: String = "ts",
               windowLen: String = "1 hour",
               watermark: String = "2 hours"): DataFrame = {
    val binCols = axes.map { case (ax, v) => ax.binId(v).as(s"${ax.name}_bin") }
    val w = graft.queries.Compat.money(weight)
    events
      .withWatermark(ts, watermark)
      .select(col(ts) +: binCols :+ w.as("__w"): _*)
      .filter(axes.map(a => col(s"${a._1.name}_bin").isNotNull)
        .reduceOption(_ && _).getOrElse(lit(true)))
      .groupBy(window(col(ts), windowLen) +: axes.map(a => col(s"${a._1.name}_bin")): _*)
      .agg(
        sum(col("__w")).cast("double").as("sumw"),
        sum(col("__w") * col("__w")).cast("double").as("sumw2"),
        count(lit(1)).as("n"))
  }

  /** Stream-static enrichment: join the stream against a static dimension
    * on `keys`. Spark broadcasts the static side per micro-batch (no
    * stream-side state, no watermark needed) — the streaming twin of the
    * q3/q4 broadcast dimension joins. */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Stream-stream band join — the streaming twin of
    * `TemporalJoin.bandPairs` (q96): right-stream rows within
    * `[leftTs - band, leftTs)` for the same key, both sides watermarked so
    * the join state is bounded (rows older than watermark + band are
    * evicted; that eviction is what makes an always-on two-firehose join
    * hold O(band) state per key instead of growing forever). */
  def bandJoinStream(left: DataFrame, right: DataFrame, key: String,
                     leftTs: String, rightTs: String,
                     band: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r, expr(
      s"l.$key = r.$key AND r.$rightTs >= l.$leftTs - INTERVAL $band AND r.$rightTs < l.$leftTs"))
  }

  /** Windowed top-k events by value: the custom bounded-buffer TopK
    * AGGREGATE (`functions/TopK`, q111's scale path) running under
    * streaming incremental state — per window the state store holds the
    * k-slot buffer, and each micro-batch MERGES its partial buffer into
    * the stored one (the same partial/merge law the batch plan uses
    * map-side). An always-on "top spenders per hour" over a firehose
    * keeps O(k) state per window, never the event set. Returns the
    * buffer as one array per window (`win_start`, `top`), so it calls
    * `TopK.topK`, not the row-per-rank `TopK.perGroup`. */
  def windowedTopK(events: DataFrame, k: Int = 5, ts: String = "ts",
                   keyCol: String = "event_id", valueCol: String = "value",
                   windowLen: String = "1 hour",
                   watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(ts, watermark)
      .filter(col(valueCol).isNotNull)
      .groupBy(window(col(ts), windowLen))
      .agg(graft.functions.TopK.topK(col(valueCol), col(keyCol), k).as("top"))
      .select(col("window.start").as("win_start"), col("top"))

  /** Running per-user totals with explicit state — the
    * `flatMapGroupsWithState` lifecycle (SURVEY §2.10 custom state): state
    * is a (count, exact-decimal cents sum) pair per user, updated per
    * micro-batch, emitting the new running totals for every user touched.
    * The decimal-cents state keeps the running sum order-independent, so
    * replaying the same events through different batch boundaries yields
    * the same totals (asserted in StreamingSpec).
    *
    * State per key is O(1); a 100 TB/day firehose holds |active users|
    * entries, sharded by the groupByKey exchange. */
  case class UserStat(user_id: Long, n_events: Long, total_cents: Long)

  def runningUserStats(events: DataFrame, user: String = "user_id",
                       value: String = "value"): Dataset[UserStat] = {
    val s = events.sparkSession
    import s.implicits._
    events
      // drop null keys/values BEFORE the primitive-tuple cast: the corpus
      // has nullable `value`, and a null reaching the (Long, Long) encoder
      // kills the streaming query with "Null value appeared in
      // non-nullable field" at runtime
      .filter(col(user).isNotNull && col(value).isNotNull)
      // exact decimal cents (a double *100 truncation would drop a cent)
      .select(col(user).cast("long"),
        (col(value).cast("decimal(18,2)") * 100).cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), UserStat](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0L))
          var n = n0
          var sum = s0
          rows.foreach { r => n += 1; sum += r._2 }
          state.update((n, sum))
          Iterator(UserStat(uid, n, sum))
      }
  }

  /** The same running totals on the Spark 4 `transformWithState` state
    * API (StatefulProcessor + typed ValueState): the successor of
    * `flatMapGroupsWithState` with composable named states, TTL, and
    * timers. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` →
    * `...RocksDBStateStoreProvider`) — which is also the right provider
    * for a 100 TB/day firehose, since state spills off-heap instead of
    * living on the executor heap like the HDFS-backed default.
    * StreamingSpec asserts batch-boundary-independence against the
    * `runningUserStats` twin. */
  class RunningStatsProcessor
      extends StatefulProcessor[Long, (Long, Long), UserStat] {
    @transient private var state: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long)](
        "totals", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[(Long, Long)],
                                 timers: TimerValues): Iterator[UserStat] = {
      val (n0, s0) = if (state.exists()) state.get() else (0L, 0L)
      var n = n0
      var sum = s0
      rows.foreach { r => n += 1; sum += r._2 }
      state.update((n, sum))
      Iterator.single(UserStat(uid, n, sum))
    }
  }

  def runningUserStatsTws(events: DataFrame, user: String = "user_id",
                          value: String = "value"): Dataset[UserStat] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .filter(col(user).isNotNull && col(value).isNotNull)
      .select(col(user).cast("long"),
        (col(value).cast("decimal(18,2)") * 100).cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RunningStatsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Idempotent exactly-once parquet sink for `foreachBatch`: each
    * micro-batch OVERWRITES its own `epoch=<id>` partition directory, so
    * a replayed batch (restart between sink write and checkpoint commit
    * — the at-least-once window every foreachBatch sink has) rewrites
    * the identical directory instead of appending duplicates. This is
    * the classic epoch-keyed idempotence pattern; downstream reads get
    * exactly-once by reading the whole tree. Use as:
    * `ds.writeStream.foreachBatch(EventStream.epochParquetSink(path) _)`. */
  def epochParquetSink(path: String)(batch: DataFrame, epochId: Long): Unit =
    batch.write.mode("overwrite")
      .parquet(s"$path/epoch=$epochId")
}
