package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import Compat._

/** Relational core: scans, filters, joins, aggregations, set ops, sorts.
  *
  * These exercise the engine mechanics that back every reference operator
  * family (SURVEY §2.1-§2.8): pruned scans, mask application
  * (reference: columnflow/reduction/default.py:48-59), broadcast lookup
  * joins (reference: columnflow/calibration/cms/jets.py:40-142), grouped
  * statistics (reference: columnflow/selection/stats.py:28-250), unions
  * (reference: columnflow/tasks/reduction.py:253-261).
  */
object Relational {

  def defs: Seq[QueryDef] = Seq(q1, q2, q3, q4, q5, q6, q7, q8, q9, q10, q11, q12, q13,
    q100, q101, q103, q104, q105, q107, q109, q112, q123, q124, q136, q142, q147, q148)

  /** Flagship: TPC-H Q1-style pricing summary. Single scan, map-side
    * partial aggregation, 6-group output — the canonical "selection
    * statistics" shape (reference: columnflow/selection/stats.py:28-250). */
  val q1 = QueryDef(
    "q1_pricing_summary",
    oracle = Some("""
      SELECT l_returnflag, l_linestatus,
        SUM(l_quantity) AS sum_qty,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(8,4))) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(8,4))) * (1 + CAST(l_tax AS DECIMAL(8,4))) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*) AS avg_qty,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
        CAST(SUM(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    bench = true) { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        dsum(money(col("l_extendedprice"))).as("sum_base_price"),
        dsum(norm6(money(col("l_extendedprice")) * (lit(1) - frac(col("l_discount"))))).as("sum_disc_price"),
        dsum(norm6(money(col("l_extendedprice")) * (lit(1) - frac(col("l_discount"))) * (lit(1) + frac(col("l_tax"))))).as("sum_charge"),
        (sum("l_quantity").cast("double") / count(lit(1))).as("avg_qty"),
        (dsum(money(col("l_extendedprice"))) / count(lit(1))).as("avg_price"),
        (dsum(frac(col("l_discount"))) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Pruned scan: predicate + projection pushed to the parquet reader
    * (reference read-set computation: columnflow/tasks/selection.py:171-176). */
  val q2 = QueryDef(
    "q2_scan_pushdown",
    oracle = Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_quantity >= 48 AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      ORDER BY l_orderkey, l_linenumber""")) { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .filter(col("l_quantity") >= 48 && col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Broadcast dimension-chain join: fact table joined to three tiny dims —
    * the shape of every correction-table lookup in the reference
    * (reference: columnflow/calibration/cms/jets.py:40-142). All three dims
    * broadcast; the fact side never shuffles for the join. */
  val q3 = QueryDef(
    "q3_dim_join_revenue",
    oracle = Some("""
      SELECT r_name, n_name,
        CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(8,4))) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name"""),
    bench = true) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
    val sup = Tables.load(s, dir, "supplier")
    val nat = Tables.load(s, dir, "nation")
    val reg = Tables.load(s, dir, "region")
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        dsum(norm6(money(col("l_extendedprice")) * (lit(1) - frac(col("l_discount"))))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Fact-fact equi-join + grouped agg: the diff-merge shape at volume
    * (reference diff-column zip: columnflow/columnar_util.py:905-990 via
    * SURVEY §2.4). orders⋈lineitem shuffles on the key; customer broadcasts. */
  val q4 = QueryDef(
    "q4_order_customer_revenue",
    oracle = Some("""
      SELECT c_mktsegment, o_orderpriority,
        COUNT(DISTINCT o_orderkey) AS n_orders,
        CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(8,4))) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment, o_orderpriority
      ORDER BY c_mktsegment, o_orderpriority"""),
    bench = true) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
    val ord = Tables.load(s, dir, "orders")
    val cust = Tables.load(s, dir, "customer")
    // aggregate pushdown below the join: revenue pre-aggregates per
    // orderkey (join key = group key), so the fact-fact join moves one
    // row per ORDER instead of one per line item, the pre-agg's hash
    // partitioning feeds the SMJ without a re-shuffle, and n_orders
    // degenerates from a countDistinct expand to a plain count (orderkeys
    // are unique after the pre-agg). Decimal sums are exact → associative
    // → identical results.
    val perOrder = li.groupBy("l_orderkey")
      .agg(sum(norm6(money(col("l_extendedprice")) * (lit(1) - frac(col("l_discount"))))).as("rev"))
    perOrder.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("rev")).cast("double").as("revenue"))
      .orderBy("c_mktsegment", "o_orderpriority")
  }

  /** Distinct value discovery (reference: np.unique group discovery,
    * columnflow/selection/stats.py:131-134). */
  val q5 = QueryDef(
    "q5_distinct",
    oracle = Some("SELECT DISTINCT event_type FROM events ORDER BY event_type")) { (s, dir) =>
    Tables.load(s, dir, "events").select("event_type").distinct().orderBy("event_type")
  }

  /** Group combinations via CUBE — the reference's N-way stats group
    * combinations (reference: columnflow/selection/stats.py:102-118). Nulls
    * from subtotal rows are labelled 'ALL' on both sides. */
  val q6 = QueryDef(
    "q6_cube_stats",
    oracle = Some("""
      SELECT COALESCE(l_returnflag, 'ALL') AS rflag, COALESCE(l_linestatus, 'ALL') AS lstatus,
        COUNT(*) AS n, SUM(l_quantity) AS sum_qty
      FROM lineitem
      GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY rflag, lstatus""")) { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("sum_qty"))
      .orderBy("rflag", "lstatus")
  }

  /** Union + distinct (reference chunk/file union:
    * columnflow/tasks/reduction.py:253-261, SURVEY §2.8). */
  val q7 = QueryDef(
    "q7_union",
    oracle = Some("""
      SELECT o_orderkey FROM orders WHERE o_totalprice > 250000
      UNION
      SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
      ORDER BY o_orderkey""")) { (s, dir) =>
    val ord = Tables.load(s, dir, "orders")
    ord.filter(col("o_totalprice") > 250000).select("o_orderkey")
      .union(ord.filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey"))
      .distinct()
      .orderBy("o_orderkey")
  }

  /** Top-k per group via ranking window — the "leading object" selection
    * generalized (reference `Jet.pt[:,0]` slice routes:
    * columnflow/columnar_util.py:203-244, SURVEY §2.6). */
  val q8 = QueryDef(
    "q8_topk_per_group",
    oracle = Some("""
      SELECT l_returnflag, rnk, l_orderkey, l_linenumber, l_extendedprice
      FROM (
        SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
          CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INT) AS rnk
        FROM lineitem)
      WHERE rnk <= 3
      ORDER BY l_returnflag, rnk""")) { (s, dir) =>
    // bounded TopK aggregate, not a ranking window (the q88/q165 pattern,
    // guide §2.5): partition by l_returnflag means THREE window groups of
    // corpus/3 rows each — the window form shuffles and sorts the whole
    // table into three unsplittable tasks at any scale, while the
    // aggregate keeps a 3-slot buffer per (task, flag) and partial-
    // aggregates map-side, so the exchange carries ≤ 3 rows per task per
    // flag. The (l_orderkey asc, l_linenumber asc) tie-break packs into
    // one long — l_linenumber ∈ [1,7] < 8, so orderkey*8+linenumber is
    // order-isomorphic to the pair and exactly invertible. Ordering is
    // identical to the window form (key desc, ties packed-id asc;
    // l_extendedprice is a non-null 2dp double — exact in the double key).
    graft.functions.TopK.perGroup(Tables.load(s, dir, "lineitem"), Seq(col("l_returnflag")),
        col("l_extendedprice"), col("l_orderkey") * 8 + col("l_linenumber"), 3)
      .select(col("l_returnflag"), col("rnk"), expr("id div 8").as("l_orderkey"),
        pmod(col("id"), lit(8L)).cast("int").as("l_linenumber"),
        col("key").as("l_extendedprice"))
      .orderBy("l_returnflag", "rnk")
  }

  /** Scalar math family over a grouped reduce (reference transverse sums:
    * columnflow/calibration/util.py:42-57). libm results go through the
    * decimal guard (see Compat.libm) before the order-independent sum. */
  val q9 = QueryDef(
    "q9_scalar_math",
    oracle = Some("""
      SELECT l_returnflag,
        CAST(SUM(CAST(cos(l_quantity) AS DECIMAL(18,6))) AS DOUBLE) AS sum_cos,
        CAST(SUM(CAST(sin(l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_sin,
        CAST(SUM(CAST(sqrt(l_extendedprice) AS DECIMAL(18,6))) AS DOUBLE) AS sum_sqrt,
        CAST(SUM(CAST(atan2(l_quantity, l_extendedprice) AS DECIMAL(18,6))) AS DOUBLE) AS sum_atan2,
        MAX(abs(l_quantity - 25)) AS max_absdev
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""")) { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        dsum(libm(cos(col("l_quantity")))).as("sum_cos"),
        dsum(libm(sin(col("l_discount")))).as("sum_sin"),
        dsum(libm(sqrt(col("l_extendedprice")))).as("sum_sqrt"),
        dsum(libm(atan2(col("l_quantity"), col("l_extendedprice")))).as("sum_atan2"),
        max(abs(col("l_quantity") - 25)).as("max_absdev"))
      .orderBy("l_returnflag")
  }

  /** Conditional aggregation — masked sums, the reference's
    * `sum(w[mask])` per-step counters (reference:
    * columnflow/selection/stats.py:163-213). */
  val q10 = QueryDef(
    "q10_conditional_agg",
    oracle = Some("""
      SELECT CAST(year(o_orderdate) AS INT) AS order_year,
        COUNT(*) AS n_orders,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,4)) ELSE 0 END) AS DOUBLE) AS finished_value
      FROM orders
      GROUP BY 1
      ORDER BY order_year""")) { (s, dir) =>
    Tables.load(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).cast("int").as("order_year"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)).as("n_high"),
        dsum(when(col("o_orderstatus") === "F", money(col("o_totalprice"))).otherwise(lit(0).cast("decimal(18,4)"))).as("finished_value"))
      .orderBy("order_year")
  }

  /** Left-semi join — "keep events having a qualifying object" (reference
    * object-mask keep semantics: columnflow/reduction/util.py:55-107). */
  val q11 = QueryDef(
    "q11_semi_join",
    oracle = Some("""
      SELECT o_orderpriority, COUNT(*) AS n
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")) { (s, dir) =>
    val ord = Tables.load(s, dir, "orders")
    val li = Tables.load(s, dir, "lineitem").filter(col("l_quantity") >= 49)
    ord.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** Left-anti join — the negated mask (reference drop semantics, SURVEY
    * §2.3 semi/anti row). */
  val q12 = QueryDef(
    "q12_anti_join",
    oracle = Some("""
      SELECT c_mktsegment, COUNT(*) AS n_inactive
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""")) { (s, dir) =>
    val cust = Tables.load(s, dir, "customer")
    val ord = Tables.load(s, dir, "orders").filter(col("o_totalprice") > 400000)
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_inactive"))
      .orderBy("c_mktsegment")
  }

  /** Global sort + limit (top-k overall). The reference never does a global
    * ORDER BY (SURVEY §2.7); included for engine completeness. Spark
    * executes it as TakeOrderedAndProject — no full sort at scale. */
  val q13 = QueryDef(
    "q13_global_topk",
    oracle = Some("""
      SELECT o_orderkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 10""")) { (s, dir) =>
    Tables.load(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey", "o_totalprice")
      .limit(10)
  }

  /** Row-level upsert (SQL MERGE semantics, `core/UpdateMerge.upsertRows`):
    * deterministic updates (+100 on every 10th key), deletes (every 20th),
    * and inserts (negated every-100th keys, guaranteed absent) folded into
    * `orders` with one full-outer join; output slices the affected keys.
    * Inserts carry no o_orderstatus — null on both engines. */
  val q100 = QueryDef(
    "q100_upsert",
    oracle = Some("""
      WITH upd AS (
        SELECT o_orderkey AS k, o_totalprice + 100 AS p,
               (o_orderkey % 20 = 0) AS del
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT -o_orderkey, o_totalprice, false
        FROM orders WHERE o_orderkey % 100 = 0),
      merged AS (
        SELECT COALESCE(u.k, o.o_orderkey) AS o_orderkey,
               COALESCE(u.p, o.o_totalprice) AS o_totalprice,
               o.o_orderstatus
        FROM orders o FULL JOIN upd u ON o.o_orderkey = u.k
        WHERE NOT COALESCE(u.del, false))
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM merged
      WHERE o_orderkey % 10 = 0 OR o_orderkey < 0
      ORDER BY o_orderkey""")) { (s, dir) =>
    val orders = Tables.load(s, dir, "orders")
    val upd = orders.filter(col("o_orderkey") % 10 === 0)
      .select(
        col("o_orderkey"),
        (col("o_totalprice") + 100).as("o_totalprice"),
        (col("o_orderkey") % 20 === 0).as("del"))
      .unionByName(orders.filter(col("o_orderkey") % 100 === 0)
        .select(
          (-col("o_orderkey")).as("o_orderkey"),
          col("o_totalprice"),
          lit(false).as("del")))
    graft.core.UpdateMerge
      .upsertRows(orders, upd, Seq("o_orderkey"), deleteCol = Some("del"))
      .filter(col("o_orderkey") % 10 === 0 || col("o_orderkey") < 0)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** Wide→long unpivot (melt) of a grouped aggregate — the inverse of the
    * q47 pivot, via the native Dataset.unpivot (no Union of re-scans). */
  val q101 = QueryDef(
    "q101_unpivot",
    oracle = Some("""
      WITH w AS (
        SELECT l_returnflag,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM lineitem GROUP BY 1)
      SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
      UNION ALL
      SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM w
      ORDER BY l_returnflag, measure""")) { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        dsum(money(col("l_quantity"))).as("sum_qty"),
        dsum(money(col("l_extendedprice"))).as("sum_price"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price")),
        "measure", "value")
      .orderBy("l_returnflag", "measure")
  }

  /** Distribution-rank window family: ntile / percent_rank / cume_dist
    * per status partition. The window ordering (o_totalprice, o_orderkey)
    * is total, so no tie groups — both rank ratios are exact integer
    * ratios and engine-identical. Output sampled to every 50th key. */
  val q103 = QueryDef(
    "q103_rank_windows",
    oracle = Some("""
      SELECT * FROM (
        SELECT o_orderkey, o_orderstatus,
          CAST(NTILE(4) OVER w AS INT) AS quartile,
          PERCENT_RANK() OVER w AS pr,
          CUME_DIST() OVER w AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey))
      WHERE o_orderkey % 50 = 0
      ORDER BY o_orderkey""")) { (s, dir) =>
    val w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    Tables.load(s, dir, "orders")
      .select(
        col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .filter(col("o_orderkey") % 50 === 0)
      .orderBy("o_orderkey")
  }

  /** TPC-H Q5-shaped star join: two fact tables and four dimensions, with
    * the local-supplier correlation (customer and supplier in the same
    * nation). The planner must broadcast all four dims and shuffle only
    * the orders⋈lineitem fact join; the selective region/date predicates
    * reach their scans (asserted in PlanSpec). */
  val q107 = QueryDef(
    "q107_local_supplier_volume",
    oracle = Some("""
      SELECT n_name,
        CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(8,4))) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""),
    bench = true) { (s, dir) =>
    val cust = Tables.load(s, dir, "customer")
    val ord = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = Tables.load(s, dir, "lineitem")
    val sup = Tables.load(s, dir, "supplier")
    val nat = Tables.load(s, dir, "nation")
    val reg = Tables.load(s, dir, "region").filter(col("r_name") === "ASIA")
    // customer/supplier SCALE with the dataset — never hard-broadcast
    // them; AQE upgrades these to broadcast at small SF on its own.
    // nation/region are constant-size: always broadcast.
    ord
      .join(cust, col("c_custkey") === col("o_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .join(sup,
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(
        dsum(norm6(money(col("l_extendedprice")) * (lit(1) - frac(col("l_discount"))))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** INTERSECT / EXCEPT set semantics (distinct rows), spliced into one
    * result with a tag column: nations having both customers and
    * suppliers vs customer-only nations. */
  val q112 = QueryDef(
    "q112_set_ops",
    oracle = Some("""
      SELECT 'both' AS side, n_nationkey FROM (
        SELECT c_nationkey AS n_nationkey FROM customer
        INTERSECT
        SELECT s_nationkey FROM supplier)
      UNION ALL
      SELECT 'cust_only', n_nationkey FROM (
        SELECT c_nationkey AS n_nationkey FROM customer
        EXCEPT
        SELECT s_nationkey FROM supplier)
      ORDER BY side, n_nationkey""")) { (s, dir) =>
    val c = Tables.load(s, dir, "customer").select(col("c_nationkey").as("n_nationkey"))
    val sup = Tables.load(s, dir, "supplier").select(col("s_nationkey").as("n_nationkey"))
    c.intersect(sup).select(lit("both").as("side"), col("n_nationkey"))
      .unionByName(c.except(sup).select(lit("cust_only").as("side"), col("n_nationkey")))
      .orderBy("side", "n_nationkey")
  }

  /** Per-group Pearson correlation from exact decimal moment sums — the
    * `corr` aggregate rebuilt order-free: every sum is exact decimal
    * (l_quantity is integral, prices have 2 decimals, so products have
    * ≤ 2 decimals and the casts never round). The moment sums' DECIMAL→
    * DOUBLE casts can still double-round differently between engines once
    * an unscaled value exceeds 2^53 (sum of price² does at ~1M rows), so
    * the final r rounds to the 1e-6 grid on both sides (the q152 idiom) —
    * the 1-ulp input wobble is 10 orders of magnitude below the grid. */
  val q109 = QueryDef(
    "q109_group_corr",
    oracle = Some("""
      SELECT l_returnflag, n,
        ROUND((n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS r
      FROM (
        SELECT l_returnflag,
          CAST(COUNT(*) AS DOUBLE) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sxx,
          CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS syy,
          CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY 1)
      ORDER BY l_returnflag""")) { (s, dir) =>
    val m = Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sx"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sy"),
        sum((col("l_quantity") * col("l_quantity")).cast("decimal(28,2)")).cast("double").as("sxx"),
        sum((col("l_extendedprice") * col("l_extendedprice")).cast("decimal(28,4)")).cast("double").as("syy"),
        sum((col("l_quantity") * col("l_extendedprice")).cast("decimal(28,2)")).cast("double").as("sxy"))
    m.select(
      col("l_returnflag"), col("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
          sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r"))
      .orderBy("l_returnflag")
  }

  /** ANALYZE-style column profiling (`stats/Profile.columnProfile`): all
    * columns' stats from ONE table scan, melted to a row per column. */
  val q104 = QueryDef(
    "q104_column_profile",
    oracle = Some {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS column_name, COUNT(*) AS n,
           COUNT(*) - COUNT($c) AS n_null,
           COUNT(DISTINCT $c) AS n_distinct,
           CAST(MIN($c) AS DOUBLE) AS min_v,
           CAST(MAX($c) AS DOUBLE) AS max_v
           FROM lineitem"""
      }.mkString("", " UNION ALL ", " ORDER BY column_name")
    }) { (s, dir) =>
    graft.stats.Profile
      .columnProfile(Tables.load(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy("column_name")
  }

  /** Per-group z-score outlier counts over `events.value`. Group moments
    * come from exact decimal sums (order-free), so mean/σ — and therefore
    * every per-row z — are bit-identical across engines; the |z|>2 cut
    * needs no rounding at all. */
  val q105 = QueryDef(
    "q105_group_outliers",
    oracle = Some("""
      WITH m AS (
        SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv,
          CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS sq
        FROM events GROUP BY 1)
      SELECT e.event_type, MAX(m.n) AS n,
        CAST(SUM(CASE WHEN ABS((e.value - m.sv / m.n) /
          sqrt((m.sq - m.sv * m.sv / m.n) / (m.n - 1))) > 2
          THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM events e JOIN m USING (event_type)
      GROUP BY 1
      ORDER BY event_type""")) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
    val m = ev.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        dsum(money(col("value"))).as("sv"),
        sum((col("value") * col("value")).cast("decimal(18,6)")).cast("double").as("sq"))
    val z = (col("value") - col("sv") / col("n")) /
      sqrt((col("sq") - col("sv") * col("sv") / col("n")) / (col("n") - 1))
    ev.join(broadcast(m), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        max("n").as("n"),
        sum(when(abs(z) > 2, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** ROLLUP hierarchy with GROUPING flags — the subtotal companion of
    * q6's CUBE: per-(flag, status), per-flag, and grand-total rows
    * distinguished by the grouping level, one aggregation pass. */
  val q123 = QueryDef(
    "q123_rollup",
    oracle = Some("""
      SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        COALESCE(l_linestatus, 'ALL') AS lstatus,
        CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS lvl,
        COUNT(*) AS n, SUM(l_quantity) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY lvl, rflag, lstatus""")) { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("int").as("lvl"),
        count(lit(1)).as("n"),
        sum("l_quantity").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("lvl"), col("n"), col("sum_qty"))
      .orderBy("lvl", "rflag", "lstatus")
  }

  /** Explicit GROUPING SETS (the general form under q6's CUBE and q123's
    * ROLLUP): three chosen aggregation levels in ONE pass — Spark expands
    * the sets inside a single Expand+aggregate, never one scan per set.
    * grouping_id disambiguates real NULL keys from subtotal rows; both
    * engines share the Postgres bit convention (bit=1 ⇔ aggregated). */
  val q136 = QueryDef(
    "q136_grouping_sets",
    oracle = Some("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        COALESCE(o_orderpriority, 'ALL') AS priority,
        CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        COUNT(*) AS n,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                              (o_orderpriority), ())
      ORDER BY gid, status, priority""")) { (s, dir) =>
    val o = Tables.load(s, dir, "orders")
    o.groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        Compat.dsum(Compat.money(col("o_totalprice"))).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("n"), col("sum_price"))
      .orderBy("gid", "status", "priority")
  }

  /** Order-free table checksum (`Integrity.tableChecksum`): Σ portable
    * row hashes reduced mod 2⁶¹−1 to a BIGINT, per return flag. Proves
    * two engines hold the identical table with no global sort and no row
    * transfer — the 100 TB copy-validation primitive (each side ships
    * |groups| numbers). Doubles canonicalize through DECIMAL(18,6), the
    * timestamp through DATE, so the rendered row is engine-portable; the
    * BIGINT residue (not the raw DECIMAL(38,0) sum) is what survives the
    * driver's comparator, since DuckDB renders HUGEINT/DECIMAL(38,0)
    * outputs as float64 (r4 red root cause). */
  val q142 = QueryDef(
    "q142_table_checksum",
    oracle = Some(s"""
      WITH r AS (
        SELECT l_returnflag,
          concat_ws('|',
            CASE WHEN CAST(l_orderkey AS VARCHAR) IS NULL THEN 'n' ELSE 'v' || CAST(l_orderkey AS VARCHAR) END,
            CASE WHEN CAST(l_linenumber AS VARCHAR) IS NULL THEN 'n' ELSE 'v' || CAST(l_linenumber AS VARCHAR) END,
            CASE WHEN CAST(CAST(l_quantity AS DECIMAL(18,6)) AS VARCHAR) IS NULL THEN 'n' ELSE 'v' || CAST(CAST(l_quantity AS DECIMAL(18,6)) AS VARCHAR) END,
            CASE WHEN CAST(CAST(l_extendedprice AS DECIMAL(18,6)) AS VARCHAR) IS NULL THEN 'n' ELSE 'v' || CAST(CAST(l_extendedprice AS DECIMAL(18,6)) AS VARCHAR) END,
            CASE WHEN CAST(CAST(l_discount AS DECIMAL(18,6)) AS VARCHAR) IS NULL THEN 'n' ELSE 'v' || CAST(CAST(l_discount AS DECIMAL(18,6)) AS VARCHAR) END,
            CASE WHEN l_linestatus IS NULL THEN 'n' ELSE 'v' || l_linestatus END,
            CASE WHEN CAST(CAST(l_shipdate AS DATE) AS VARCHAR) IS NULL THEN 'n' ELSE 'v' || CAST(CAST(l_shipdate AS DATE) AS VARCHAR) END) AS repr
        FROM lineitem)
      SELECT l_returnflag, COUNT(*) AS n_rows,
        CAST(((SUM(${graft.operators.Sketches.signed64FromHexSql("md5(repr)")})
                 % ${graft.core.Integrity.ChecksumModulus}
               + ${graft.core.Integrity.ChecksumModulus})
              % ${graft.core.Integrity.ChecksumModulus}) AS BIGINT) AS checksum
      FROM r GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, dir) =>
    import graft.core.Integrity
    val li = Tables.load(s, dir, "lineitem")
    Integrity.tableChecksum(li, Seq(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,6)"),
        col("l_extendedprice").cast("decimal(18,6)"),
        col("l_discount").cast("decimal(18,6)"),
        col("l_linestatus"),
        col("l_shipdate").cast("date")),
      groupBy = Seq("l_returnflag"))
      .orderBy("l_returnflag")
  }

  /** Snapshot diff (`Integrity.snapshotDiff`): two synthetic versions of
    * orders (different delete sets; every 7th price bumped) classify as
    * added/removed/changed/unchanged. Each side reduces to (key, 8-byte
    * row hash) BEFORE the full-outer join, so diffing 100 TB snapshots
    * co-shuffles key-width data — and nothing at all once both sides
    * bucket on the key. The oracle classifies by direct column equality:
    * the hash-match proves hash-judgment ≡ value-judgment. */
  val q147 = QueryDef(
    "q147_snapshot_diff",
    oracle = Some("""
      WITH o AS (
        SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4)) AS p,
          o_orderstatus AS st
        FROM orders WHERE o_orderkey % 97 <> 0),
      n AS (
        SELECT o_orderkey,
          CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
               ELSE o_totalprice END AS DECIMAL(18,4)) AS p,
          o_orderstatus AS st
        FROM orders WHERE o_orderkey % 89 <> 0),
      d AS (
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
          CASE WHEN o.o_orderkey IS NULL THEN 'added'
               WHEN n.o_orderkey IS NULL THEN 'removed'
               WHEN o.p = n.p AND o.st = n.st THEN 'unchanged'
               ELSE 'changed' END AS status
        FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey)
      SELECT status, COUNT(*) AS n, MIN(k) AS min_key, MAX(k) AS max_key
      FROM d GROUP BY 1 ORDER BY 1""")) { (s, dir) =>
    import graft.core.Integrity
    val orders = Tables.load(s, dir, "orders")
    val oldSnap = orders.filter(pmod(col("o_orderkey"), lit(97L)) =!= 0)
    val newSnap = orders.filter(pmod(col("o_orderkey"), lit(89L)) =!= 0)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(7L)) === 0, col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")))
    Integrity.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"),
        Seq(col("o_totalprice").cast("decimal(18,4)"), col("o_orderstatus")))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      .orderBy("status")
  }

  /** Deequ-style data-quality audit (`Integrity.auditRules`): five
    * domain rules counted in ONE lineitem scan (sibling conditional
    * sums — never a pass per rule), plus the referential-integrity rule
    * as a left join against the distinct parent keys (violations and
    * total counted in the same aggregate). Null rule results count as
    * violations — an unevaluable rule must not silently pass. */
  val q148 = QueryDef(
    "q148_dq_audit",
    oracle = Some("""
      WITH r AS (
        SELECT COUNT(*) AS n,
          CAST(SUM(CASE WHEN NOT COALESCE(l_quantity BETWEEN 1 AND 50, FALSE)
            THEN 1 ELSE 0 END) AS BIGINT) AS qty_range,
          CAST(SUM(CASE WHEN NOT COALESCE(l_extendedprice > 0, FALSE)
            THEN 1 ELSE 0 END) AS BIGINT) AS price_positive,
          CAST(SUM(CASE WHEN NOT COALESCE(l_discount BETWEEN 0 AND 0.1, FALSE)
            THEN 1 ELSE 0 END) AS BIGINT) AS discount_range,
          CAST(SUM(CASE WHEN NOT COALESCE(l_returnflag IN ('A', 'N', 'R'), FALSE)
            THEN 1 ELSE 0 END) AS BIGINT) AS flag_domain,
          CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS shipdate_not_null
        FROM lineitem),
      fk AS (
        SELECT CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS v,
          COUNT(*) AS n
        FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          ON l.l_orderkey = o.o_orderkey)
      SELECT 'discount_range' AS rule, discount_range AS n_violations, n AS n_rows FROM r
      UNION ALL SELECT 'fk_orders', v, n FROM fk
      UNION ALL SELECT 'flag_domain', flag_domain, n FROM r
      UNION ALL SELECT 'price_positive', price_positive, n FROM r
      UNION ALL SELECT 'qty_range', qty_range, n FROM r
      UNION ALL SELECT 'shipdate_not_null', shipdate_not_null, n FROM r
      ORDER BY rule""")) { (s, dir) =>
    import graft.core.Integrity
    val li = Tables.load(s, dir, "lineitem")
    val audit = Integrity.auditRules(li, Seq(
      "qty_range" -> col("l_quantity").between(1, 50),
      "price_positive" -> (col("l_extendedprice") > 0),
      "discount_range" -> col("l_discount").between(0, 0.1),
      "flag_domain" -> col("l_returnflag").isin("A", "N", "R"),
      "shipdate_not_null" -> col("l_shipdate").isNotNull))
    val parents = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("__pk")).distinct()
    val fk = li.select(col("l_orderkey").as("__ck"))
      .join(parents, col("__ck") === col("__pk"), "left_outer")
      .agg(
        sum(when(col("__pk").isNull, 1L).otherwise(0L)).as("n_violations"),
        count(lit(1)).as("n_rows"))
      .select(lit("fk_orders").as("rule"), col("n_violations"), col("n_rows"))
    audit.unionByName(fk).orderBy("rule")
  }

  /** Z-order (Morton) locality audit (`Layout.zValue16`): interleave two
    * 8-bit key projections and show that every 1/64 z-range bounds BOTH
    * dimensions tightly — the file-statistics property a z-ordered layout
    * gives multi-column data skipping at 100 TB. Pure shift/mask integer
    * arithmetic, identical in any engine. */
  val q124 = QueryDef(
    "q124_zorder_locality",
    oracle = Some(s"""
      WITH z AS (
        SELECT ${graft.operators.Layout.zValue16Sql("l_partkey % 256", "l_suppkey % 256")} AS zv,
          l_partkey % 256 AS px, l_suppkey % 256 AS sx
        FROM lineitem)
      SELECT zv >> 10 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
        MIN(px) AS min_p, MAX(px) AS max_p,
        MIN(sx) AS min_s, MAX(sx) AS max_s
      FROM z GROUP BY bucket ORDER BY bucket""")) { (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .select(
        pmod(col("l_partkey"), lit(256L)).as("px"),
        pmod(col("l_suppkey"), lit(256L)).as("sx"))
      .withColumn("zv", graft.operators.Layout.zValue16(col("px"), col("sx")))
      .groupBy(shiftright(col("zv"), 10).as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        min("px").as("min_p"), max("px").as("max_p"),
        min("sx").as("min_s"), max("sx").as("max_s"))
      .orderBy("bucket")
  }
}
