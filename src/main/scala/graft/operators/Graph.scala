package graft.operators

import graft.core.Fixpoint
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics on edge DataFrames — the companion of
  * [[Dedup.components]] (min-label propagation) for weighted influence:
  * fixed-iteration PageRank.
  *
  * Scale shape: each iteration is ONE key-shuffle (contributions grouped
  * by destination); ranks and degrees ride a join on the edge's source.
  * At 100 TB of edges both joins hash-partition on the same key, and AQE
  * handles the power-law skew of hub nodes. The round loops of PageRank,
  * label propagation and BFS run in [[graft.core.Fixpoint]].
  *
  * Determinism: ranks are FIXED-POINT scaled longs (default 10^12), all
  * updates integer floor-division — so sums are order-independent and the
  * result is bit-identical on any engine and any partitioning, unlike a
  * double-valued PageRank whose partial-sum order leaks into the last
  * ulps. The damping update per node v is
  *
  *   r'(v) = ((den−num) · (scale div n)) div den
  *         + (num · Σ_{u→v} (r(u) div outdeg(u))) div den
  *
  * with num/den = 85/100 the damping fraction. The deliberate floor
  * divisions lose ≤ 1 unit each at scale 10^12 — far below any ranking
  * use — and buy exact cross-engine reproducibility.
  */
object Graph {

  /** Fixed-point PageRank over directed `edges` (`src`, `dst` long
    * columns). Returns (node, rank_scaled).
    *
    * Node-set contract: the ranked universe is `nodeTable` when given
    * (one `node` column — the way to rank isolated nodes, which no edge
    * can name), otherwise the distinct union of `src` and `dst`, so
    * sink-only nodes hold rank and absorb the contributions pointed at
    * them. With an explicit `nodeTable`
    * the walk runs on the NODE-INDUCED SUBGRAPH: edges with either
    * endpoint outside the table are removed BEFORE out-degrees are
    * computed, so an in-table neighbor receives 1/deg' of the in-table
    * degree — not a fraction silently leaked to excluded endpoints.
    * Dangling nodes (no out-edges) keep their rank but by default do NOT
    * redistribute it, so total mass decays toward the teleport floor on
    * graphs with sinks — fine for ranking, not for a probability
    * interpretation. `conserveMass = true` adds the classic per-iteration
    * dangling-mass term: the summed rank of all dangling nodes is spread
    * uniformly (D div n to every node, inside the damped part), making
    * Σ rank ≈ `scale` a loop invariant (up to the floor-division units).
    * Cost per iteration: one anti-join aggregate producing a ONE-ROW
    * scalar that crossJoin-broadcasts into the update — no corpus-sized
    * work and no driver round-trip; the default path is unchanged. */
  def pageRankScaled(edges: DataFrame, iterations: Int,
                     dampNum: Long = 85L, dampDen: Long = 100L,
                     scale: Long = 1000000000000L,
                     nodeTable: Option[DataFrame] = None,
                     conserveMass: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"pageRankScaled: iterations must be in [1, 50]: $iterations")
    // materialize the loop invariants ONCE: otherwise every iteration
    // re-derives the edge list from source (scan + any upstream distinct)
    val e = nodeTable match {
      case None => edges.localCheckpoint()
      case Some(nt) =>
        // induced subgraph: both endpoints must be in the table (two
        // semi-joins — broadcast when the node table is small)
        val nn = nt.select(col("node")).distinct()
        edges
          .join(nn.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .join(nn.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))
          .localCheckpoint()
    }
    val nodes = nodeTable
      .map(_.select(col("node")).distinct())
      .getOrElse(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      .localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint()
    // one scalar to the driver (like the stitching solve): n nodes
    val n = nodes.count()
    require(n > 0, "pageRankScaled: empty node set (no edges and no " +
      "nodeTable rows) — nothing to rank")
    val base = ((dampDen - dampNum) * (scale / n)) / dampDen
    // conserveMass reads `ranks` twice per round (contrib + dangling scalar),
    // so its plan doubles per round: checkpoint every round there, else every 5th
    val init = nodes.withColumn("rank_scaled", lit(scale / n))
    Fixpoint.iterate(init, iterations, if (conserveMass) 1 else 5) { (ranks, _) =>
      // `div` (not `/`): Spark's `/` on longs is DOUBLE division; integral
      // div is exact and floors positives like the oracle's `//`. Join
      // order: ranks⋈deg FIRST (both node-width, one division per source),
      // then one edge-width join attaches it to dst. Every edge's src has a
      // deg row (deg derives from e); ranks without out-edges drop.
      val perSrc = ranks.join(deg, ranks("node") === deg("src"))
        .select(col("src"), expr("rank_scaled div deg").as("__c"))
      val contrib = e
        .join(perSrc, "src")
        .select(col("dst").as("node"), col("__c").as("c"))
        .groupBy("node")
        .agg(sum("c").as("s"))
      val gathered = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("s"))
      val redistributed =
        if (!conserveMass) gathered
        else {
          // Σ rank over dangling nodes (no out-degree row) — a one-row
          // scalar; each node receives D div n inside the damped term
          val dangling = ranks
            .join(deg, ranks("node") === deg("src"), "left_anti")
            .agg(coalesce(sum("rank_scaled"), lit(0L)).as("__d"))
          gathered.crossJoin(broadcast(dangling))
            .select(col("node"), (col("s") + expr(s"__d div $n")).as("s"))
        }
      (redistributed.select(col("node"),
        expr(s"$base + ($dampNum * s) div $dampDen").as("rank_scaled")), None)
    }._1
  }

  /** Triangle count on an undirected simple graph, `edges(a, b)` with
    * `a < b` canonicalized and deduplicated by the caller. Closes wedges
    * with two self-joins under the a<b<c total order, so each triangle is
    * counted exactly once.
    *
    * Scale shape: DEGREE-ORDERED orientation (compact-forward). The id
    * orientation alone leaves hub vertices emitting deg² wedges — the
    * round-8 sf10 rehearsal measured it directly: the click graph's hubs
    * spilled more wedge mass than the machine's free disk. Orienting
    * every edge from its lower-(degree, id) endpoint to the higher one
    * bounds each vertex's OUT-degree by O(√m) amortized, so total wedge
    * volume is O(m^1.5) instead of Σdeg² — the standard bound for exact
    * distributed triangle counting — while each triangle {x,y,z} (π-order
    * x<y<z) is still counted exactly once via its unique wedge (x→y, x→z)
    * closed by x's π-smaller leg: edge y→z. Both joins hash-partition on
    * a vertex column; per-source wedge groups are outdeg-bounded, so no
    * hub key dominates a task. Counts are exact longs — order-free,
    * engine-portable. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val (_, tri) = triangles(edges)
    // tag-and-union instead of crossJoining the two one-row aggregates:
    // one aggregation, no join operator between scalar results
    edges.select(lit(1L).as("__e"), lit(0L).as("__t"))
      .unionAll(tri.select(lit(0L).as("__e"), lit(1L).as("__t")))
      .agg(sum("__e").as("n_edges"), sum("__t").as("n_triangles"))
  }

  /** Degree table + degree-ordered triangle enumeration shared by
    * [[triangleCount]] and [[clusteringCoefficient]]: returns
    * (deg(v, d), triangles(x, u, w)) — one row per triangle, all three
    * vertices named. Same O(m^1.5) wedge bound as documented above. */
  private def triangles(edges: DataFrame): (DataFrame, DataFrame) = {
    val und = edges.select(col("a"), col("b"))
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val oriented = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("t"), col("db").as("dt")))
          .otherwise(struct(col("b").as("s"), col("a").as("t"), col("da").as("dt")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
      .localCheckpoint() // materialize once: wedge AND closure sides reuse it
    val w = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") &&
          (col("e1.dt") < col("e2.dt") ||
            (col("e1.dt") === col("e2.dt") && col("e1.t") < col("e2.t"))))
      .select(col("e1.s").as("x"), col("e1.t").as("u"), col("e2.t").as("w"))
    val tri = w.join(oriented.select(col("s").as("u"), col("t").as("w")), Seq("u", "w"))
      .select(col("x"), col("u"), col("w"))
    (deg, tri)
  }

  /** Per-vertex triangle counts and local clustering coefficient —
    * `2·T_v / (d_v·(d_v−1))`, the neighborhood-density signal (spam/link
    * farms cluster; organic co-occurrence graphs sit in between). Every
    * triangle credits its three vertices via one explode of the
    * [[triangles]] enumeration (same O(m^1.5) wedge bound); degrees and
    * coefficients are exact-integer ratios in doubles — engine-portable
    * with no rounding step. Isolated/degree-1 vertices report 0.0. */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val (deg, tri) = triangles(edges)
    val perV = tri.select(explode(array(col("x"), col("u"), col("w"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("__nt"))
    deg.join(perV, Seq("v"), "left")
      .select(col("v").as("id"), col("d").cast("long").as("degree"),
        coalesce(col("__nt"), lit(0L)).as("n_triangles"),
        when(col("d") >= 2,
          (coalesce(col("__nt"), lit(0L)) * 2).cast("double") /
            (col("d") * (col("d") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("coefficient"))
  }

  /** Wedge-SAMPLING estimator of the local clustering coefficient — the
    * corpus-scale dial for hub-heavy graphs where the exact
    * [[clusteringCoefficient]] wedge shuffle (O(m^1.5)) outgrows local
    * disk (Schank & Wagner 2005; Seshadhri, Pinar & Kolda 2013 — public
    * algorithms). Per vertex, `samplesPerVertex` uniform wedges are
    * drawn and their closure checked: E[closed/sampled] = c_v exactly,
    * with per-vertex standard error √(c(1−c)/k).
    *
    * The draw is deterministic and WINDOW-FREE: each adjacency row
    * explodes into k slots, each slot hashes (v, slot, neighbor), and
    * the slot's wedge endpoints are the neighbors with the MIN and MAX
    * hash — `min/max(struct(hash, u))`, map-side-combinable aggregates,
    * so a hub's adjacency collapses to O(1) state per partition and no
    * task ever buffers a neighborhood. (For iid hashes the hash ranking
    * is a uniform permutation of the neighbors, so (argmin, argmax) is
    * a uniform ordered pair WITHOUT replacement — an unbiased wedge.)
    * Closure is one equi-join of the n·k sampled pairs against the
    * canonical edge set. Work: O(k·m) explode + one join — linear,
    * never deg², and k·n rows vs the exact operator's Σ outdeg² wedges.
    *
    * `portable = true` draws from md5-lower-64 ([[graft.functions.Seeds
    * .portableHash64]]) so any engine re-derives the SAME samples
    * bit-for-bit (the q200 oracle does); default xxhash64 is the fast
    * production kernel (the q118/q118f convention). Determinism either
    * way: pure hash draws — partitioning/retry/cluster-width invariant.
    * Output: (id, degree, sampled, closed, coefficient_est); vertices
    * with degree < 2 have no wedge and report (0, 0, 0.0). */
  def clusteringCoefficientSampled(edges: DataFrame, samplesPerVertex: Int = 16,
                                   portable: Boolean = false): DataFrame = {
    require(samplesPerVertex >= 1 && samplesPerVertex <= 256,
      s"samplesPerVertex must be in [1, 256]: $samplesPerVertex")
    val hashOf: Column => Column =
      if (portable) graft.functions.Seeds.portableHash64 else (c => xxhash64(c))
    val und = edges.select(col("a"), col("b"))
    val sym = und.select(col("a").as("v"), col("b").as("u"))
      .unionAll(und.select(col("b").as("v"), col("a").as("u")))
      .distinct()
    val deg = sym.groupBy("v").agg(count(lit(1)).as("d"))
    val draws = sym
      .select(col("v"), col("u"),
        explode(sequence(lit(1), lit(samplesPerVertex))).as("s"))
      .withColumn("__h",
        hashOf(concat_ws("|", lit("ws"), col("v"), col("s"), col("u"))))
      .groupBy(col("v"), col("s"))
      .agg(count(lit(1)).as("__d"),
        min(struct(col("__h").as("h"), col("u").as("u"))).getField("u").as("u1"),
        max(struct(col("__h").as("h"), col("u").as("u"))).getField("u").as("u2"))
      .filter(col("__d") >= 2)
    val canon = sym.filter(col("v") < col("u"))
      .select(col("v").as("__x"), col("u").as("__y"), lit(1L).as("__closed"))
    val perV = draws
      .withColumn("__x", least(col("u1"), col("u2")))
      .withColumn("__y", greatest(col("u1"), col("u2")))
      .join(canon, Seq("__x", "__y"), "left")
      .groupBy(col("v"))
      .agg(count(lit(1)).as("sampled"),
        sum(coalesce(col("__closed"), lit(0L))).as("closed"))
    deg.join(perV, Seq("v"), "left")
      .select(col("v").as("id"), col("d").cast("long").as("degree"),
        coalesce(col("sampled"), lit(0L)).as("sampled"),
        coalesce(col("closed"), lit(0L)).as("closed"),
        when(col("d") >= 2,
          coalesce(col("closed"), lit(0L)).cast("double") /
            coalesce(col("sampled"), lit(1L)).cast("double"))
          .otherwise(lit(0.0)).as("coefficient_est"))
  }

  /** Synchronous label propagation — the classic near-linear community
    * detection (Raghavan, Albert & Kumara 2007): every node adopts the
    * most frequent label among its neighbors each round, ties broken by
    * the SMALLEST label. The tie-break plus the synchronous schedule
    * (all nodes update from the previous round's labels) makes the
    * result a pure function of (edges, iterations) — deterministic
    * across engines, partitionings, and retries, unlike the
    * asynchronous/randomized textbook variant. Initial label = node id
    * (every endpoint of `edges` has ≥ 1 neighbor by construction, so
    * the per-round argmax covers the full node set).
    *
    * Input: undirected edges (a, b); symmetrized internally. Output:
    * (id, community) for every endpoint.
    *
    * Scale shape (the [[pageRankScaled]] pattern): each round is one
    * message join (labels ⋈ edges on the source key), one
    * (dst, label)-grouped count with map-side partial aggregation, and
    * one per-dst argmax via `max(struct(cnt, -label))` — a map-side
    * combinable aggregate, never a per-node window. Hub skew is AQE's
    * skew-join case. The edges persist SERIALIZED with disk spill (a
    * deserialized checkpoint of a 100×-scale edge set starves execution
    * memory — caught by the sf10 rehearsal); [[graft.core.Fixpoint]]
    * checkpoints the node-width labels every round. */
  def labelPropagation(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"labelPropagation: iterations must be in [1, 50]: $iterations")
    val und = edges.select(col("a"), col("b"))
    // SERIALIZED, not checkpointed (see above): ~10× smaller, spills
    // freely, and one union+distinct of lineage is not worth truncating
    val sym = und.select(col("a").as("s"), col("b").as("d"))
      .unionAll(und.select(col("b").as("s"), col("a").as("d")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val init = sym.select(col("s").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    val (labels, _) = Fixpoint.iterate(init, iterations) { (prev, _) =>
      (sym
        .join(prev.select(col("id").as("s"), col("lbl")), "s")
        .groupBy(col("d").as("id"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        // argmax by (count, then smallest label): max over (cnt, -lbl)
        .groupBy("id")
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("id"), (-col("m.nl")).as("lbl")), None)
    }
    sym.unpersist(false)
    labels.select(col("id"), col("lbl").as("community"))
  }

  /** Multi-source BFS: minimum hop count from any seed, bounded by
    * `maxHops`. Returns (node, hops) for every reached node.
    *
    * Hop h expands the visited rows of hop h − 1 with one equi-join and
    * anti-joins the result against the visited set — the frontier
    * DEDUPLICATES per hop, so work per level is O(|frontier|·avg-degree),
    * where a recursive CTE enumerates PATHS (exponential in dense graphs).
    * The hops run in [[graft.core.Fixpoint]], one SQL execution each that
    * also counts the hop's new rows; the search stops after a hop that
    * finds none. Hub skew in the expansion join is AQE's skew-split case. */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 30, s"bfs: maxHops must be in [1, 30]: $maxHops")
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val init = seeds.select(col("node"), lit(0).as("hops")).distinct().localCheckpoint()
    Fixpoint.iterate(init, maxHops) { (visited, hop) =>
      val reached = visited.filter(col("hops") === hop - 1)
        .join(e, col("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("hops", lit(hop))
      (visited.unionAll(reached), Some(count(when(col("hops") === hop, lit(1)))))
    }._1
  }
}
