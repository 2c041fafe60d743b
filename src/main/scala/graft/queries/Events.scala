package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import Compat._

/** Event-stream family over the flat `events` table: JSON extraction,
  * time rollups, analytic windows, and batch sessionization.
  *
  * The reference engine is batch-only (SURVEY §2.10); the `events` table
  * stands in for its flat event stream. Sessionization is the batch
  * formulation of what Structured Streaming session windows would do on
  * the same data.
  */
object Events {

  def defs: Seq[QueryDef] = Seq(q14, q15, q16, q17, q18, q19, q95, q96, q110, q111, q113,
    q114, q115, q121, q122, q126, q146, q149, q151, q152, q154, q156, q159, q160, q169,
    q174)

  /** JSON field extraction (scalar function family, SURVEY §2.9 date/json). */
  val q14 = QueryDef(
    "q14_json_extract",
    oracle = Some("""
      SELECT event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      FROM events
      GROUP BY event_type
      ORDER BY event_type""")) { (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
      .orderBy("event_type")
  }

  /** Daily time rollup: date bucketing + distinct users + exact value sum. */
  val q15 = QueryDef(
    "q15_daily_rollup",
    oracle = Some("""
      SELECT CAST(ts AS DATE) AS day,
        COUNT(*) AS n_events,
        COUNT(DISTINCT user_id) AS n_users,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1
      ORDER BY day""")) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("ts_us").cast("date").as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        dsum(money(col("value"))).as("sum_value"))
      .orderBy("day")
  }

  /** Running cumulative sum per user (analytic window, exact decimal). */
  val q16 = QueryDef(
    "q16_running_sum",
    oracle = Some("""
      SELECT event_id, user_id,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
          PARTITION BY user_id ORDER BY event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      FROM events
      ORDER BY event_id""")) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .select(
        col("event_id"), col("user_id"),
        sum(money(col("value"))).over(w).cast("double").as("running_value"))
      .orderBy("event_id")
  }

  /** Lag/delta per user — per-row double subtraction is bit-exact. */
  val q17 = QueryDef(
    "q17_lag_delta",
    oracle = Some("""
      SELECT * FROM (
        SELECT event_id, user_id,
          value - LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS delta
        FROM events)
      WHERE delta IS NOT NULL
      ORDER BY event_id""")) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.load(s, dir, "events")
      .select(
        col("event_id"), col("user_id"),
        (col("value") - lag("value", 1).over(w)).as("delta"))
      .filter(col("delta").isNotNull)
      .orderBy("event_id")
  }

  /** Two-level aggregate + top-20 by grouped totals. The oracle keeps the
    * DENSE_RANK formulation; the Spark side uses `orderBy(...).limit(20)`
    * — planned as TakeOrderedAndProject (per-partition top-k + a k-row
    * driver merge, NO single-task global sort), equivalent row-for-row
    * because the user_id tiebreak makes the order total, so dense_rank
    * equals row position and `rnk <= 20` selects exactly the first 20
    * rows. The rank is then recomputed positionally over the 20-row
    * result (a window over 20 rows, not the user table). Scale-safe at
    * 10⁹ users where the ranked-window form sorts the whole post-
    * aggregate table through one task. */
  val q18 = QueryDef(
    "q18_user_rank",
    oracle = Some("""
      SELECT user_id, total_value, rnk FROM (
        SELECT user_id,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
          CAST(DENSE_RANK() OVER (ORDER BY SUM(CAST(value AS DECIMAL(18,4))) DESC, user_id) AS INT) AS rnk
        FROM events GROUP BY user_id)
      WHERE rnk <= 20
      ORDER BY rnk""")) { (s, dir) =>
    val totals = Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(sum(money(col("value"))).as("total_dec"))
    totals
      .orderBy(col("total_dec").desc, col("user_id"))
      .limit(20)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("total_dec").desc, col("user_id"))))
      .select(col("user_id"), col("total_dec").cast("double").as("total_value"), col("rnk"))
      .orderBy("rnk")
  }

  /** Batch sessionization: 30-minute-gap sessions per user via lag + running
    * flag sum — the batch equivalent of a streaming session window. All
    * arithmetic on microsecond longs, matching DuckDB's epoch_us. */
  val q19 = QueryDef(
    "q19_sessionize",
    oracle = Some("""
      WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS tus,
          CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    > 1800000000 THEN 1 ELSE 0 END AS new_session
        FROM events),
      sessions AS (
        SELECT user_id,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged)
      SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions, COUNT(*) AS n_events
      FROM sessions
      GROUP BY user_id
      ORDER BY user_id""")) { (s, dir) =>
    val byUser = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val cum = Window.partitionBy("user_id").orderBy("tus", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tus"))
      .withColumn("new_session",
        when(col("tus") - lag("tus", 1).over(byUser) > 1800000000L, 1).otherwise(0))
      .withColumn("session_id", sum("new_session").over(cum))
      .groupBy("user_id")
      .agg(countDistinct("session_id").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Builtin `session_window` in BATCH mode, oracled against the
    * lag-and-running-flag formulation (q19's oracle verbatim): proves the
    * native session operator and the manual CTE agree on real data. (The
    * two differ only when a gap is EXACTLY the threshold — session_window
    * ends are exclusive where the lag test is > — measure-zero on ns
    * timestamps.) */
  val q110 = QueryDef(
    "q110_session_window",
    oracle = Some("""
      WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS tus,
          CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    > 1800000000 THEN 1 ELSE 0 END AS new_session
        FROM events),
      sessions AS (
        SELECT user_id,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged)
      SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions, COUNT(*) AS n_events
      FROM sessions
      GROUP BY user_id
      ORDER BY user_id""")) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(session_window(col("ts_us"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n").as("n_events"))
      .orderBy("user_id")
  }

  /** Top-k per group via the bounded-buffer AGGREGATE
    * (`functions/TopK`): identical output to the q8-style window
    * formulation (the oracle), but the exchange carries at most k rows
    * per (partition, group) instead of every row — the difference between
    * sorting the corpus and sorting k·|groups| at 100 TB. */
  val q111 = QueryDef(
    "q111_topk_agg",
    oracle = Some("""
      SELECT event_type, rnk, event_id, value FROM (
        SELECT event_type, event_id, value,
          CAST(ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY value DESC, event_id) AS BIGINT) AS rnk
        FROM events WHERE value IS NOT NULL)
      WHERE rnk <= 5
      ORDER BY event_type, rnk""")) { (s, dir) =>
    val events = Tables.load(s, dir, "events").filter(col("value").isNotNull)
    graft.functions.TopK.perGroup(events, Seq(col("event_type")), col("value"),
        col("event_id"), 5)
      .select(col("event_type"), col("rnk").cast("long").as("rnk"),
        col("id").as("event_id"), col("key").as("value"))
      .orderBy("event_type", "rnk")
  }

  /** Value-based RANGE window frame (vs q16's ROWS frame): per-user
    * rolling one-hour value sum over microsecond offsets. Peers at equal
    * timestamps are included by both engines' RANGE semantics; the sum is
    * exact decimal. */
  val q113 = QueryDef(
    "q113_range_frame",
    oracle = Some("""
      SELECT event_id, user_id,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
          PARTITION BY user_id ORDER BY epoch_us(ts)
          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hour_sum
      FROM events
      ORDER BY event_id""")) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("tus")
      .rangeBetween(-3600000000L, Window.currentRow)
    Tables.load(s, dir, "events")
      .select(
        col("event_id"), col("user_id"), expr("ts div 1000").as("tus"), col("value"))
      .select(
        col("event_id"), col("user_id"),
        sum(money(col("value"))).over(w).cast("double").as("hour_sum"))
      .orderBy("event_id")
  }

  /** Cohort retention: weeks-since-signup activity buckets. The signup
    * anchor is a per-user MIN aggregate joined back onto the stream
    * (broadcast at small SF via AQE, shuffle join at scale); the week
    * bucket is floor of a nonnegative exact-integer ratio — identical in
    * any engine. */
  val q114 = QueryDef(
    "q114_cohort_retention",
    oracle = Some("""
      WITH s AS (SELECT user_id, MIN(epoch_us(ts)) AS signup
                 FROM events WHERE event_type = 'signup' GROUP BY 1),
      a AS (SELECT e.user_id,
              CAST(FLOOR((epoch_us(e.ts) - s.signup) / 604800000000) AS BIGINT) AS wk
            FROM events e JOIN s USING (user_id)
            WHERE epoch_us(e.ts) >= s.signup)
      SELECT wk, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      FROM a GROUP BY 1 ORDER BY wk""")) { (s, dir) =>
    val ev = Tables.load(s, dir, "events").withColumn("tus", expr("ts div 1000"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("tus").as("signup"))
    ev.join(signup, Seq("user_id"))
      .filter(col("tus") >= col("signup"))
      .select(col("user_id"),
        floor((col("tus") - col("signup")) / 604800000000L).cast("long").as("wk"))
      .groupBy("wk")
      .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events"))
      .orderBy("wk")
  }

  /** Ordered funnel: view → click → purchase with strictly increasing
    * first-occurrence times. Null-propagating comparisons mean a missing
    * step simply fails the predicate in both engines. */
  val q115 = QueryDef(
    "q115_funnel",
    oracle = Some("""
      WITH m AS (
        SELECT user_id,
          MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
          MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
          MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_buy
        FROM events GROUP BY 1)
      SELECT COUNT(*) AS n_users,
        CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS step_view,
        CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
        CAST(SUM(CASE WHEN t_click > t_view AND t_buy > t_click THEN 1 ELSE 0 END) AS BIGINT) AS step_buy
      FROM m""")) { (s, dir) =>
    val ev = Tables.load(s, dir, "events").withColumn("tus", expr("ts div 1000"))
    val m = ev.groupBy("user_id").agg(
      min(when(col("event_type") === "view", col("tus"))).as("t_view"),
      min(when(col("event_type") === "click", col("tus"))).as("t_click"),
      min(when(col("event_type") === "purchase", col("tus"))).as("t_buy"))
    m.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("step_view"),
      sum(when(col("t_click") > col("t_view"), 1L).otherwise(0L)).as("step_click"),
      sum(when(col("t_click") > col("t_view") && col("t_buy") > col("t_click"), 1L)
        .otherwise(0L)).as("step_buy"))
  }

  /** Backward as-of join: each purchase picks up the user's most recent
    * prior view (union-sort plan, one shuffle — graft.operators.TemporalJoin).
    * DuckDB's native ASOF JOIN is the oracle. Views are deduped to one row
    * per (user, ts) so the matched payload is deterministic. */
  val q95 = QueryDef(
    "q95_asof_join",
    oracle = Some("""
      WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS tus
                 FROM events WHERE event_type = 'purchase'),
      v AS (SELECT user_id, epoch_us(ts) AS vtus, MAX(event_id) AS view_event_id
            FROM events WHERE event_type = 'view' GROUP BY 1, 2)
      SELECT p.event_id, p.user_id, v.view_event_id, p.tus - v.vtus AS gap_us
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.tus >= v.vtus
      ORDER BY event_id""")) { (s, dir) =>
    val ev = Tables.load(s, dir, "events").withColumn("tus", expr("ts div 1000"))
    val p = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "tus")
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("tus").as("vtus"))
      .agg(max("event_id").as("view_event_id"))
    graft.operators.TemporalJoin
      .asOfJoin(p, v, Seq("user_id"), "tus", "vtus", Seq("view_event_id", "vtus"))
      .select(
        col("event_id"), col("user_id"), col("view_event_id"),
        (col("tus") - col("vtus")).as("gap_us"))
      .orderBy("event_id")
  }

  /** Band (interval) join: clicks by the same user in the hour before each
    * purchase. Candidate pairs come from TemporalJoin.bandPairs (bucketed
    * blocking — linear in true matches, no theta-join); outer semantics are
    * restored by re-joining the purchase spine. */
  val q96 = QueryDef(
    "q96_band_join",
    oracle = Some("""
      WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS tus
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT user_id, epoch_us(ts) AS ctus, value
            FROM events WHERE event_type = 'click')
      SELECT p.event_id, p.user_id,
        COUNT(c.ctus) AS n_clicks,
        CAST(COALESCE(SUM(CAST(c.value AS DECIMAL(18,4))), 0) AS DOUBLE) AS click_value
      FROM p LEFT JOIN c
        ON p.user_id = c.user_id
        AND c.ctus >= p.tus - 3600000000 AND c.ctus < p.tus
      GROUP BY 1, 2
      ORDER BY event_id""")) { (s, dir) =>
    val ev = Tables.load(s, dir, "events").withColumn("tus", expr("ts div 1000"))
    val p = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "tus")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("tus").as("ctus"), col("value"))
    val pairs = graft.operators.TemporalJoin.bandPairs(
      p, c, Seq("user_id"), "tus", "ctus", Seq("ctus", "value"),
      lower = -3600000000L, upper = 0L)
    val agg = pairs.groupBy("event_id")
      .agg(count(lit(1)).as("nc"), sum(money(col("value"))).as("cv"))
    p.join(agg, Seq("event_id"), "left")
      .select(
        col("event_id"), col("user_id"),
        coalesce(col("nc"), lit(0L)).as("n_clicks"),
        coalesce(col("cv").cast("double"), lit(0.0)).as("click_value"))
      .orderBy("event_id")
  }

  /** SCD-2 history build (`History.scd2`): every purchase becomes a
    * versioned dimension row with its validity interval — one window per
    * user, no self-join. Micros longs keep the intervals integer-exact. */
  val q121 = QueryDef(
    "q121_scd2_history",
    oracle = Some("""
      SELECT user_id, event_id, value,
        epoch_us(ts) AS eff_from,
        LEAD(epoch_us(ts)) OVER
          (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS eff_to,
        CAST(CASE WHEN LEAD(epoch_us(ts)) OVER
          (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
          THEN 1 ELSE 0 END AS INT) AS is_current
      FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL
      ORDER BY user_id, eff_from, event_id""")) { (s, dir) =>
    val changes = Tables.events(s, dir)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts_us")).as("tus"))
    graft.operators.History.scd2(changes, Seq("user_id"), "tus", "event_id")
      .select(col("user_id"), col("event_id"), col("value"),
        col("eff_from"), col("eff_to"), col("is_current"))
      .orderBy("user_id", "eff_from", "event_id")
  }

  /** Fixed-point PageRank (`Graph.pageRankScaled`) over the user↔item
    * click graph (items from the props JSON, namespaced at 10^6). Ranks
    * are scaled longs with integer floor-division updates — order-free
    * sums, so three unrolled oracle iterations hash-match bit-for-bit.
    * Each Spark iteration is one key-shuffle; hub skew is AQE's job. */
  val q122 = QueryDef(
    "q122_pagerank",
    bench = true,
    oracle = Some {
      def step(i: Int, prev: String) = s"""
      s$i AS (SELECT e.dst AS node, SUM(r.r // d.d) AS s
        FROM edges e JOIN $prev r ON e.src = r.node JOIN deg d ON e.src = d.src
        GROUP BY 1),
      r$i AS (SELECT nodes.node,
        CAST(((15 * (1000000000000 // cnt.n)) // 100)
          + ((85 * COALESCE(s$i.s, 0)) // 100) AS BIGINT) AS r
        FROM nodes CROSS JOIN cnt LEFT JOIN s$i ON nodes.node = s$i.node)"""
      s"""
      WITH e0 AS (SELECT DISTINCT user_id AS u,
          1000000 + CAST(json_extract_string(props, '$$.k') AS BIGINT) AS it
        FROM events WHERE event_type = 'click'),
      edges AS (SELECT u AS src, it AS dst FROM e0
                UNION ALL SELECT it AS src, u AS dst FROM e0),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      cnt AS (SELECT COUNT(*) AS n FROM nodes),
      deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
      r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes CROSS JOIN cnt),
      ${step(1, "r0")},
      ${step(2, "r1")},
      ${step(3, "r2")}
      SELECT node, r AS rank_scaled FROM r3
      ORDER BY rank_scaled DESC, node LIMIT 20"""
    }) { (s, dir) =>
    val clicks = Tables.load(s, dir, "events")
      .filter(col("event_type") === "click")
      .select(col("user_id").as("u"),
        (get_json_object(col("props"), "$.k").cast("long") + 1000000L).as("it"))
      .distinct()
    val edges = clicks.select(col("u").as("src"), col("it").as("dst"))
      .union(clicks.select(col("it").as("src"), col("u").as("dst")))
    graft.operators.Graph.pageRankScaled(edges, iterations = 3)
      .orderBy(col("rank_scaled").desc, col("node"))
      .limit(20)
  }

  /** Mass-conserving PageRank (`Graph.pageRankScaled(conserveMass =
    * true)`) over the DIRECTED user→item click graph — unlike q122's
    * symmetrized graph, every item is a sink, so the dangling-mass term
    * genuinely binds: each iteration gathers Σ rank of the no-out-degree
    * nodes (a one-row scalar, broadcast) and spreads `D div n` to every
    * node inside the damped part, keeping Σ rank ≈ scale a loop
    * invariant. The oracle unrolls the same three iterations INCLUDING
    * the dangling CTE; all updates are integer floor-divisions of
    * positive longs (`div` ≡ DuckDB `//`), so the hash match pins the
    * conservation arithmetic bit-for-bit, not just the ranking. */
  val q169 = QueryDef(
    "q169_pagerank_conserve",
    oracle = Some {
      def step(i: Int, prev: String) = s"""
      d$i AS (SELECT COALESCE(SUM(p.r), 0) AS dm
        FROM $prev p LEFT JOIN deg ON p.node = deg.src WHERE deg.src IS NULL),
      s$i AS (SELECT e.dst AS node, SUM(r.r // d.d) AS s
        FROM edges e JOIN $prev r ON e.src = r.node JOIN deg d ON e.src = d.src
        GROUP BY 1),
      r$i AS (SELECT nodes.node,
        CAST(((15 * (1000000000000 // cnt.n)) // 100)
          + ((85 * (COALESCE(s$i.s, 0) + (d$i.dm // cnt.n))) // 100) AS BIGINT) AS r
        FROM nodes CROSS JOIN cnt CROSS JOIN d$i
        LEFT JOIN s$i ON nodes.node = s$i.node)"""
      s"""
      WITH edges AS (SELECT DISTINCT user_id AS src,
          1000000 + CAST(json_extract_string(props, '$$.k') AS BIGINT) AS dst
        FROM events WHERE event_type = 'click'),
      nodes AS (SELECT DISTINCT node FROM
        (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
      cnt AS (SELECT COUNT(*) AS n FROM nodes),
      deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
      r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes CROSS JOIN cnt),
      ${step(1, "r0")},
      ${step(2, "r1")},
      ${step(3, "r2")}
      SELECT node, r AS rank_scaled FROM r3
      ORDER BY rank_scaled DESC, node LIMIT 20"""
    }) { (s, dir) =>
    val edges = Tables.load(s, dir, "events")
      .filter(col("event_type") === "click")
      .select(col("user_id").as("src"),
        (get_json_object(col("props"), "$.k").cast("long") + 1000000L).as("dst"))
      .distinct()
    graft.operators.Graph.pageRankScaled(edges, iterations = 3,
        conserveMass = true)
      .orderBy(col("rank_scaled").desc, col("node"))
      .limit(20)
  }

  /** Salted two-stage aggregation (`Skew.saltedSum`) under an oracle: the
    * hot-key remedy must be RESULT-invariant — exact decimal sums make
    * the salted partials merge to the very bytes the plain GROUP BY
    * produces, which is the property that lets a 100 TB job salt its one
    * viral key without changing answers. */
  val q126 = QueryDef(
    "q126_salted_skew",
    oracle = Some("""
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type ORDER BY event_type""")) { (s, dir) =>
    val ev = Tables.load(s, dir, "events").filter(col("value").isNotNull)
    graft.operators.Skew.saltedSum(ev, Seq("event_type"), Seq("event_id"),
        buckets = 16,
        Map("n" -> count(lit(1)),
          "sum_value" -> sum(col("value").cast("decimal(18,4)"))))
      .select(col("event_type"), col("n"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Per-user time-weighted average value (`Timeseries.twap`): each
    * observation weights by its holding duration — the correct "average
    * over the day" where the plain mean over-counts bursts. Durations
    * are exact longs, values canonicalize to exact decimal: products and
    * sums are exact decimals; the quotient rounds to 1e-6 (see operator
    * scaladoc) — hash-exact. The oracle casts to DECIMAL(19,x), not the
    * minimal widths: 19 digits forces DuckDB onto int128 arithmetic,
    * whose int64 product path overflows once per-user gaps reach days
    * (micros ~2e11 × value ~5e6 unscaled). The quotient is RATIONAL-
    * LATTICE (exact decimal / exact decimal), so its decimal ties are
    * reachable — the num/den doubles convert via the exact VARCHAR route
    * (the direct decimal cast double-rounds past 2^53 unscaled, which
    * sf10-sized duration sums exceed) and the final round uses the
    * Spark-semantics mirror. */
  val q152 = QueryDef(
    "q152_twap",
    oracle = Some(s"""
      WITH e AS (
        SELECT user_id, epoch_us(ts) AS tus, value
        FROM events WHERE value IS NOT NULL),
      iv AS (
        SELECT user_id, value, tus,
          LEAD(tus) OVER (PARTITION BY user_id ORDER BY tus) AS nt
        FROM e)
      SELECT user_id, COUNT(*) AS n_intervals,
        CAST(${Compat.roundSql(
          s"""${Compat.exactDoubleSql(
            "SUM(CAST(value AS DECIMAL(19,4)) * CAST(nt - tus AS DECIMAL(19,0)))")}
          / ${Compat.exactDoubleSql("SUM(CAST(nt - tus AS DECIMAL(19,0)))")}""", 6)}
        AS DOUBLE) AS twap
      FROM iv WHERE nt IS NOT NULL
      GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .withColumn("tus", expr("ts div 1000"))
    graft.operators.Timeseries.twap(ev, "user_id", "tus", "value")
      .orderBy("user_id")
  }

  /** Per-user maximum drawdown (`Grouped.maxDrawdown`) — the
    * order-dependent fold (running peak) computed with the secondary-sort
    * + streaming-mapPartitions pattern: one shuffle, O(1) state per
    * group, NO collect_list (a single hot user cannot OOM an executor).
    * The oracle is the window formulation (running MAX then MAX of
    * peak−value): the hash-match proves the streamed fold ≡ the
    * windowed one. Subtraction/max only — bit-exact, no sums. */
  val q151 = QueryDef(
    "q151_max_drawdown",
    oracle = Some("""
      WITH e AS (
        SELECT user_id, epoch_us(ts) AS tus, event_id, value
        FROM events WHERE value IS NOT NULL),
      w AS (
        SELECT user_id, value,
          MAX(value) OVER (PARTITION BY user_id ORDER BY tus, event_id
            ROWS UNBOUNDED PRECEDING) AS peak
        FROM e)
      SELECT user_id, COUNT(*) AS n_events,
        MAX(peak) AS max_peak,
        MAX(peak - value) AS max_drawdown
      FROM w GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .withColumn("tus", expr("ts div 1000"))
    graft.operators.Grouped
      .maxDrawdown(ev, "user_id", "tus", "event_id", "value")
      .orderBy("user_id")
  }

  /** Time-CONSTRAINED funnel: view → first click within 1h → first
    * purchase within 24h of that click, per user. Each hop is a FORWARD
    * as-of join (`TemporalJoin.forwardAsOfJoin`: time-negated union-sort
    * — one shuffle per hop, zero candidate pairs), where q115's
    * unconstrained funnel only needed first-occurrence times. The oracle
    * states each hop as a DuckDB forward ASOF join (smallest c.t ≥ v.t,
    * window applied after) — value-identical to the correlated
    * MIN-over-inequality formulation it replaced, which blew up
    * quadratically per user (the sf10 sweep's 30-min oracle interrupt:
    * per-user view×click cross products are Σ|user|², exactly the cost
    * the Spark side's union-sort plan avoids). */
  val q160 = QueryDef(
    "q160_funnel_windows",
    oracle = Some("""
      WITH v AS (
        SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        WHERE event_type = 'view'),
      c AS (
        SELECT DISTINCT user_id, epoch_us(ts) AS t FROM events
        WHERE event_type = 'click'),
      p AS (
        SELECT DISTINCT user_id, epoch_us(ts) AS t FROM events
        WHERE event_type = 'purchase'),
      vc AS (
        SELECT v.event_id, v.user_id,
          CASE WHEN c.t IS NOT NULL AND c.t - v.t <= 3600000000
               THEN c.t END AS ct
        FROM v ASOF LEFT JOIN c
          ON v.user_id = c.user_id AND v.t <= c.t),
      vcp AS (
        SELECT w.event_id,
          CASE WHEN p.t IS NOT NULL AND p.t - w.ct <= 86400000000
               THEN p.t END AS pt
        FROM (SELECT * FROM vc WHERE ct IS NOT NULL) w
        ASOF LEFT JOIN p ON w.user_id = p.user_id AND w.ct <= p.t)
      SELECT COUNT(*) AS n_views,
        CAST(SUM(CASE WHEN ct IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_clicked,
        CAST(SUM(CASE WHEN pt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_purchased
      FROM vc LEFT JOIN vcp USING (event_id)""")) { (s, dir) =>
    import graft.operators.TemporalJoin
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("t"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("t"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("t").as("ct")).distinct()
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("t").as("pt")).distinct()
    val vc = TemporalJoin.forwardAsOfJoin(views, clicks, Seq("user_id"),
      "t", "ct", Seq("ct"), tolerance = Some(3600000000L))
    val vcp = TemporalJoin.forwardAsOfJoin(
      vc.filter(col("ct").isNotNull), purchases, Seq("user_id"),
      "ct", "pt", Seq("pt"), tolerance = Some(86400000000L))
    vc.join(vcp.select(col("event_id"), col("pt")), Seq("event_id"), "left")
      .agg(count(lit(1)).as("n_views"),
        sum(when(col("ct").isNotNull, 1L).otherwise(0L)).as("n_clicked"),
        sum(when(col("pt").isNotNull, 1L).otherwise(0L)).as("n_purchased"))
  }

  /** SLIDING windows in batch: native `window(ts, 2h, 30m)` — each event
    * replicates into span/slide = 4 overlapping windows (Spark's Expand,
    * exactly what the streaming operator does per micro-batch), then one
    * hash aggregate. The oracle derives the same windows arithmetically:
    * an event at t belongs to window starts
    * {⌊(t−len)/slide⌋+1 … ⌊t/slide⌋}·slide — proving the builtin's
    * window-assignment math, not just echoing it. The oracle's floors
    * use the sign-safe subtract-positive-mod idiom (DuckDB `//` alone
    * truncates toward zero — the q154 anchoring class). Exact counts +
    * decimal sums; only non-empty windows emit (both sides). */
  val q159 = QueryDef(
    "q159_sliding_window",
    oracle = Some("""
      WITH e AS (
        SELECT epoch_us(ts) AS tus, event_type, value FROM events),
      k AS (
        SELECT event_type, value, unnest(generate_series(
          ((tus - 7200000000) - (((tus - 7200000000) % 1800000000
            + 1800000000) % 1800000000)) // 1800000000 + 1,
          (tus - ((tus % 1800000000 + 1800000000) % 1800000000))
            // 1800000000, 1)) AS slot
        FROM e),
      w AS (
        SELECT slot * 1800000000 AS win_start, event_type,
          COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM k GROUP BY 1, 2)
      SELECT win_start, event_type, n, sum_value
      FROM w ORDER BY win_start, event_type""")) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(window(col("ts_us"), "2 hours", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        dsum(money(col("value"))).as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")
  }

  /** OHLC bars (`Timeseries.ohlc`, 6-hour buckets): first/highest/
    * lowest/last value per user per bucket — one map-side-combining hash
    * aggregate, selections only (no sums), so every bar is bit-exact
    * under any partitioning. DuckDB's arg_min/arg_max mirror min_by/
    * max_by; (user, ts) uniqueness makes open/close deterministic. */
  val q156 = QueryDef(
    "q156_ohlc",
    oracle = Some("""
      WITH e AS (
        SELECT user_id, epoch_us(ts) AS tus, value
        FROM events WHERE value IS NOT NULL)
      SELECT user_id, tus - ((tus % 21600000000 + 21600000000) % 21600000000) AS bucket,
        arg_min(value, tus) AS open,
        MAX(value) AS high,
        MIN(value) AS low,
        arg_max(value, tus) AS close,
        COUNT(*) AS n_ticks
      FROM e GROUP BY 1, 2
      ORDER BY user_id, bucket""")) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("tus"), col("value"))
    graft.operators.Timeseries.ohlc(ev, "user_id", "tus", "value",
        step = 21600000000L)
      .orderBy("user_id", "bucket")
  }

  /** Regular-grid resample with forward fill (`Timeseries.resampleFfill`,
    * 6-hour ticks): each user's irregular events align onto a shared
    * grid, every tick carrying the most recent value at or before it —
    * gap-fill via the as-of union-sort-window plan (no per-tick probe
    * join). DuckDB's native ASOF LEFT JOIN over a generated series is
    * the oracle. Ticks before a user's first observation keep null. */
  val q154 = QueryDef(
    "q154_resample_ffill",
    oracle = Some("""
      WITH e AS (
        SELECT user_id, epoch_us(ts) AS tus, value
        FROM events WHERE value IS NOT NULL),
      b AS (
        SELECT user_id,
          MIN(tus) - ((MIN(tus) % 21600000000 + 21600000000) % 21600000000) AS lo,
          MAX(tus) - ((MAX(tus) % 21600000000 + 21600000000) % 21600000000) AS hi
        FROM e GROUP BY 1),
      g AS (
        SELECT user_id, unnest(generate_series(lo, hi, 21600000000)) AS tick
        FROM b)
      SELECT g.user_id, g.tick, e.value
      FROM g ASOF LEFT JOIN e
        ON g.user_id = e.user_id AND g.tick >= e.tus
      ORDER BY g.user_id, g.tick""")) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("user_id"), expr("ts div 1000").as("tus"), col("value"))
    graft.operators.Timeseries
      .resampleFfill(ev, "user_id", "tus", "value", step = 21600000000L)
      .select(col("user_id"), col("tick"), col("value"))
      .orderBy("user_id", "tick")
  }

  /** CDC log compaction (`UpdateMerge.cdcCompact`): the event stream as a
    * change log — error events are tombstones, everything else upserts —
    * materialized to latest-state-per-user by ONE `max(struct(version,
    * payload))` aggregate (map-side combinable; never a per-key window
    * sort, never a max-version self-join). The oracle recomputes the
    * winner by MAX(event_id) + join-back: hash-match proves the struct
    * ordering picks the same last writer, nullable payload included. */
  val q149 = QueryDef(
    "q149_cdc_compact",
    oracle = Some("""
      WITH log AS (
        SELECT user_id, event_id, epoch_us(ts) AS tus,
          CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op, value
        FROM events),
      c AS (
        SELECT user_id, MAX(event_id) AS event_id, COUNT(*) AS n_changes
        FROM log GROUP BY 1)
      SELECT c.user_id, c.event_id, l.tus, l.value, c.n_changes
      FROM c JOIN log l USING (user_id, event_id)
      WHERE l.op <> 'D' ORDER BY c.user_id""")) { (s, dir) =>
    import graft.core.UpdateMerge
    val log = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tus"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        col("value"))
    UpdateMerge.cdcCompact(log, Seq("user_id"), "event_id", "op")
      .orderBy("user_id")
  }

  /** Point-in-time join — the feature-store correctness pattern: each
    * click reads the user tier that was VALID AT ITS TIMESTAMP from the
    * SCD2 history built out of purchase events (`History.scd2`), never a
    * later one (leakage) nor an earlier one (staleness). Because SCD2
    * intervals partition time per key, interval membership reduces to a
    * backward as-of join on `eff_from` — the union-sort-window plan (one
    * shuffle, no candidate pairs) instead of the quadratic
    * BETWEEN-theta-join the naive SQL would run. Clicks before a user's
    * first purchase report tier 'none' (left-outer). */
  // q146 oracle note: the `pit` CTE states containment as a backward ASOF
  // join — SCD2 intervals tile time per user (eff_to = successor's
  // eff_from), so the max eff_from ≤ tus IS the containing interval. The
  // band-join form materialized per-user clicks × history cross products
  // and blew the sf10 sweep's 30-min oracle cap. (No `--` comments inside
  // oracle SQL: the dump collapses newlines, so a line comment would
  // swallow the rest of the query.)
  val q146 = QueryDef(
    "q146_pit_join",
    oracle = Some("""
      WITH ch0 AS (
        SELECT user_id, epoch_us(ts) AS tus, event_id,
          CASE WHEN value < 10 THEN 'bronze'
               WHEN value < 50 THEN 'silver'
               ELSE 'gold' END AS tier
        FROM events WHERE event_type = 'purchase'),
      ch AS (
        SELECT user_id, tus, MAX(event_id) AS event_id,
          arg_max(tier, event_id) AS tier
        FROM ch0 GROUP BY 1, 2),
      h AS (
        SELECT user_id, tier, tus AS eff_from,
          LEAD(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS eff_to
        FROM ch),
      clicks AS (
        SELECT user_id, epoch_us(ts) AS tus FROM events
        WHERE event_type = 'click'),
      pit AS (
        SELECT c.user_id, h.tier
        FROM clicks c ASOF LEFT JOIN h
          ON c.user_id = h.user_id AND h.eff_from <= c.tus)
      SELECT COALESCE(tier, 'none') AS tier,
        COUNT(*) AS n_clicks,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM pit GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
    val ev = Tables.load(s, dir, "events").withColumn("tus", expr("ts div 1000"))
    // one change row per (user, instant): the as-of payload must be
    // deterministic, so equal-timestamp purchases collapse to the max
    // event_id's tier (asOfJoin's documented uniqueness contract)
    val changes = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tus"), col("event_id"),
        when(col("value") < 10, "bronze")
          .when(col("value") < 50, "silver")
          .otherwise("gold").as("tier"))
      .groupBy("user_id", "tus")
      .agg(max(struct(col("event_id"), col("tier"))).as("m"))
      .select(col("user_id"), col("tus"),
        col("m.event_id").as("event_id"), col("m.tier").as("tier"))
    val hist = graft.operators.History.scd2(changes, Seq("user_id"), "tus", "event_id")
      .select(col("user_id"), col("eff_from"), col("tier"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("tus"))
    graft.operators.TemporalJoin
      .asOfJoin(clicks, hist, Seq("user_id"), "tus", "eff_from", Seq("tier"))
      .groupBy(coalesce(col("tier"), lit("none")).as("tier"))
      .agg(count(lit(1)).as("n_clicks"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("tier")
  }

  /** Interval-overlap join (`TemporalJoin.intervalOverlapPairs`): view
    * activity windows × click activity windows per user, where each
    * event's window is [ts, ts + (id-derived hours)). The operator
    * grids time into 7-hour cells and meets candidates through an
    * equi-join on (user, cell) with first-shared-cell dedup — the oracle
    * is the plain theta join (per-user cross products, fine at fixture
    * scale), so the hash match proves the grid plan emits EXACTLY the
    * theta-join pair set with its intersection bounds. */
  val q174 = QueryDef(
    "q174_interval_overlap",
    oracle = Some("""
      WITH v AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS s,
                   epoch_us(ts) + (event_id % 7 + 1) * 3600000000 AS e
                 FROM events WHERE event_type = 'view'),
      c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS s,
              epoch_us(ts) + (event_id % 5 + 1) * 3600000000 AS e
            FROM events WHERE event_type = 'click')
      SELECT v.user_id, v.view_id, c.click_id,
        GREATEST(v.s, c.s) AS overlap_start, LEAST(v.e, c.e) AS overlap_end
      FROM v JOIN c ON v.user_id = c.user_id AND v.s < c.e AND c.s < v.e
      ORDER BY v.user_id, view_id, click_id""")) { (s, dir) =>
    val ev = Tables.load(s, dir, "events").withColumn("tus", expr("ts div 1000"))
    def windows(kind: String, modMin: Int, idAs: String) =
      ev.filter(col("event_type") === kind)
        .select(col("user_id"), col("event_id").as(idAs),
          col("tus").as(s"${idAs}_s"),
          (col("tus") + (pmod(col("event_id"), lit(modMin)) + 1) * 3600000000L)
            .as(s"${idAs}_e"))
    val v = windows("view", 7, "view_id")
    val c = windows("click", 5, "click_id")
    graft.operators.TemporalJoin.intervalOverlapPairs(
        v, c, Seq("user_id"),
        "view_id_s", "view_id_e", "click_id_s", "click_id_e",
        rightPayload = Seq("click_id"),
        cellWidth = 7L * 3600000000L)
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("overlap_start"), col("overlap_end"))
      .orderBy("user_id", "view_id", "click_id")
  }
}
