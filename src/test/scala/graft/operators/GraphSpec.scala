package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  // undirected path a—b—c (symmetrized): b has degree 2, a and c degree 1
  private def pathEdges = Seq(
    (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)
  ).toDF("src", "dst")

  // directed chain 1→2→3→4→5 plus island 9→10
  private def chainEdges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 10L))
    .toDF("src", "dst")

  test("pageRankScaled matches the hand-unrolled fixed-point update") {
    val out = Graph.pageRankScaled(pathEdges, iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // n=3, scale=1e12: r0 = 333333333333 each; base = (15 * r0) / 100
    val r0 = 1000000000000L / 3
    val base = (15L * r0) / 100
    // a receives b's half; b receives a + c whole; c receives b's half
    val half = r0 / 2
    assert(out(1L) === base + (85L * half) / 100)
    assert(out(2L) === base + (85L * (r0 + r0)) / 100)
    assert(out(3L) === base + (85L * half) / 100)
  }

  test("the hub outranks leaves and total mass stays ≈ scale") {
    val ranks = Graph.pageRankScaled(pathEdges, iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(2L) > ranks(1L) && ranks(2L) > ranks(3L))
    val total = ranks.values.sum
    // floor losses only: within 100 units of the scale per node
    assert(math.abs(total - 1000000000000L) < 1000L)
  }

  test("integer ranks are bit-identical under different partitionings") {
    val edges = (1L to 40L).flatMap { i =>
      val j = i % 20 + 1 // ring-ish multigraph
      Seq((i, j), (j, i))
    }.toDF("src", "dst")
    def run(parts: Int) = Graph.pageRankScaled(edges.repartition(parts), 4)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(2) === run(13))
  }

  test("pageRankScaled: sink-only nodes hold rank and absorb contributions (r4 leak)") {
    // a→b, a→c: b and c never appear as src. Before r5 they were dropped
    // and a's outbound mass silently vanished.
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val out = Graph.pageRankScaled(edges, iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    val r0 = 1000000000000L / 3
    val base = (15L * r0) / 100
    assert(out(1L) === base) // no in-edges: teleport floor only
    assert(out(2L) === base + (85L * (r0 / 2)) / 100) // half of a's rank
    assert(out(3L) === base + (85L * (r0 / 2)) / 100)
  }

  test("pageRankScaled conserveMass: sinks redistribute, Σ rank ≈ scale is a loop invariant") {
    // chain with a hard sink: 1→2, 2→3, 3 dangles. Default mode decays;
    // conserveMass must hold the total at scale up to floor-division units.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val scale = 1000000000000L
    for (iters <- Seq(1, 5, 12)) {
      val total = Graph.pageRankScaled(edges, iters, conserveMass = true)
        .agg(sum("rank_scaled")).head.getLong(0)
      // ≤ a few floor losses per node per iteration — ppb of the scale
      assert(math.abs(total - scale) <= 10L * 3 * iters,
        s"mass not conserved at $iters iterations: $total")
    }
    // and the default mode on the same graph DOES decay (the documented
    // contract the flag changes): strictly below scale by far more than
    // floor losses
    val decayed = Graph.pageRankScaled(edges, 5)
      .agg(sum("rank_scaled")).head.getLong(0)
    assert(decayed < scale - 1000000L)
    // hand-check one conserveMass iteration: D = r0 (node 3 dangles)
    val r0 = scale / 3
    val base = (15L * r0) / 100
    val dShare = r0 / 3
    val out = Graph.pageRankScaled(edges, 1, conserveMass = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === base + (85L * dShare) / 100)
    assert(out(2L) === base + (85L * (r0 + dShare)) / 100)
    assert(out(3L) === base + (85L * (r0 + dShare)) / 100)
  }

  test("pageRankScaled: explicit node table ranks isolated nodes, node-set = the table") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 99L).toDF("node") // 99 touches no edge
    val out = Graph.pageRankScaled(edges, iterations = 2,
        nodeTable = Some(nodes))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === Set(1L, 2L, 99L))
    val r0 = 1000000000000L / 3 // n = 3 comes from the TABLE, not the edges
    val base = (15L * r0) / 100
    assert(out(99L) === base) // isolated: pure teleport, both iterations
    assert(out(1L) === out(2L)) // symmetric pair
    assert(out(1L) > out(99L)) // connected nodes accumulate each other's mass
  }

  test("pageRankScaled: explicit nodeTable induces the subgraph — no leaked degree") {
    // 1→2, 1→3 with node table {1, 2}: edge 1→3 must be REMOVED before
    // degrees, so deg(1)=1 and node 2 receives ALL of 1's mass — not the
    // half that a full-edge-list degree would silently leak to 3
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L).toDF("node")
    val out = Graph.pageRankScaled(edges, iterations = 1,
        nodeTable = Some(nodes))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === Set(1L, 2L))
    val r0 = 1000000000000L / 2
    val base = (15L * r0) / 100
    assert(out(2L) === base + (85L * r0) / 100) // whole rank, deg'(1)=1
    assert(out(1L) === base)
  }

  test("pageRankScaled: empty node set fails fast with a named require") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](
      Graph.pageRankScaled(edges, 1,
        nodeTable = Some(Seq.empty[Long].toDF("node"))))
    assert(e.getMessage.contains("empty node set"))
    for (bad <- Seq(0, 51)) {
      val r = intercept[IllegalArgumentException](Graph.pageRankScaled(edges, bad))
      assert(r.getMessage.contains(s"iterations must be in [1, 50]: $bad"))
    }
  }

  test("pageRankScaled checkpoints inside the loop only at its cadence") {
    // 4 executions before the loop: the edge, node and degree checkpoints
    // and the node count; then every 5th round, or every round under
    // conserveMass
    for ((iters, conserve, inLoop) <- Seq((3, false, 0), (10, false, 2), (3, true, 3))) {
      val (_, n) = executionsDuring(
        Graph.pageRankScaled(pathEdges, iters, conserveMass = conserve))
      assert(n.size === 4 + inLoop, s"iterations $iters, conserveMass $conserve")
    }
  }

  test("pageRankScaled: on a symmetrized graph union(src,dst) ≡ src-only (q122 unchanged)") {
    // every node of pathEdges appears as a source, so the r5 node-set fix
    // must be a no-op there — pins that q122's oracle stays valid
    val viaDefault = Graph.pageRankScaled(pathEdges, iterations = 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaTable = Graph.pageRankScaled(pathEdges, iterations = 3,
        nodeTable = Some(pathEdges.select(col("src").as("node")).distinct()))
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaDefault === viaTable)
  }

  test("triangleCount: K4 has 4 triangles, a square has 0") {
    val s = spark
    import s.implicits._
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("a", "b")
    val r1 = Graph.triangleCount(k4).collect().head
    assert((r1.getLong(0), r1.getLong(1)) === (6L, 4L))
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val r2 = Graph.triangleCount(square).collect().head
    assert((r2.getLong(0), r2.getLong(1)) === (4L, 0L))
  }

  test("clusteringCoefficient: hand values on triangle+pendant; random graphs match brute force") {
    val s = spark
    import s.implicits._
    // triangle {1,2,3} with pendant 4–1
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val out = Graph.clusteringCoefficient(g)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((3L, 1L, 1.0 / 3)))
    assert(out(2L) === ((2L, 1L, 1.0)) && out(3L) === ((2L, 1L, 1.0)))
    assert(out(4L) === ((1L, 0L, 0.0)))
    // random graphs vs an independent O(n³) reference
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val n = 12
      val edges = (for { a <- 1L to n; b <- 1L to n
                         if a < b && rnd.nextDouble() < 0.35 } yield (a, b)).toSeq
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val want = adj.map { case (v, nb) =>
        val d = nb.size.toLong
        val t = nb.toSeq.combinations(2).count { case Seq(x, y) => adj(x)(y) }.toLong
        v -> ((d, t, if (d >= 2) 2.0 * t / (d * (d - 1)) else 0.0))
      }
      val got = Graph.clusteringCoefficient(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(got === want)
    }
  }

  test("clusteringCoefficientSampled: exact on cliques/stars, unbiased on random graphs, partitioning-stable") {
    val s = spark
    import s.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // K5: every wedge is closed — the estimate is EXACTLY 1.0 per vertex
    val k5 = (for { a <- 1L to 5L; b <- 1L to 5L if a < b } yield (a, b)).toDF("a", "b")
    rows(Graph.clusteringCoefficientSampled(k5, samplesPerVertex = 8)).foreach {
      case (_, (d, sampled, closed, est)) =>
        assert(d === 4L && sampled === 8L && closed === 8L && est === 1.0)
    }
    // star: no wedge at the center closes; leaves have degree 1 (no wedge)
    val star = (2L to 8L).map(b => (1L, b)).toDF("a", "b")
    val st = rows(Graph.clusteringCoefficientSampled(star, samplesPerVertex = 8))
    assert(st(1L) === ((7L, 8L, 0L, 0.0)))
    (2L to 8L).foreach(v => assert(st(v) === ((1L, 0L, 0L, 0.0))))
    // random graphs: the estimate tracks the exact coefficient (k=64 ⇒
    // se ≤ √(.25/64) ≈ 0.0625 per vertex; assert mean |err| well inside)
    val rnd = new scala.util.Random(19)
    for (trial <- 1 to 2) {
      val n = 14
      val edges = (for { a <- 1L to n; b <- 1L to n
                         if a < b && rnd.nextDouble() < 0.4 } yield (a, b)).toSeq
      val exact = Graph.clusteringCoefficient(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      val est = Graph.clusteringCoefficientSampled(edges.toDF("a", "b"),
          samplesPerVertex = 64)
        .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
      val errs = exact.map { case (v, c) => math.abs(est(v) - c) }
      assert(errs.sum / errs.size < 0.08,
        s"trial $trial mean abs err ${errs.sum / errs.size}: est=$est exact=$exact")
      // deterministic hash draws: a different partitioning gives the
      // IDENTICAL result (and so does the portable-hash twin vs itself)
      val re = Graph.clusteringCoefficientSampled(
          edges.toDF("a", "b").repartition(7), samplesPerVertex = 64)
        .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
      assert(re === est)
    }
    // portable twin: same statistical contract, md5 draws
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val pt = rows(Graph.clusteringCoefficientSampled(tri, samplesPerVertex = 4,
      portable = true))
    assert(pt(2L)._4 === 1.0 && pt(3L)._4 === 1.0 && pt(4L) === ((1L, 0L, 0L, 0.0)))
  }

  test("bfs: min hops on a chain, unreachable components absent") {
    val out = Graph.bfs(chainEdges, Seq(1L).toDF("node"), maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(out === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3)) // 5 beyond cap, island absent
  }

  test("bfs: multi-seed takes the minimum hop and a shortcut wins over a long path") {
    // 1→2→3→4 and direct 1→4: node 4 must be hop 1, not 3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("src", "dst")
    val out = Graph.bfs(edges, Seq(1L).toDF("node"), maxHops = 5)
      .as[(Long, Int)].collect().toMap
    assert(out(4L) === 1)
    // two seeds: every node takes the closer one
    val out2 = Graph.bfs(edges, Seq(1L, 3L).toDF("node"), maxHops = 5)
      .as[(Long, Int)].collect().toMap
    assert(out2(3L) === 0 && out2(4L) === 1)
  }

  test("bfs terminates early when the frontier empties before maxHops") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val out = Graph.bfs(edges, Seq(1L).toDF("node"), maxHops = 30)
      .as[(Long, Int)].collect().toMap
    assert(out === Map(1L -> 0, 2L -> 1))
    for (bad <- Seq(0, 31)) {
      val e = intercept[IllegalArgumentException](Graph.bfs(edges, Seq(1L).toDF("node"), bad))
      assert(e.getMessage.contains(s"maxHops must be in [1, 30]: $bad"))
    }
  }

  test("bfs runs one SQL execution per hop") {
    // 2 executions before the loop (the edge list and the seed set), then
    // one per hop run, the quiet hop that ends the search included
    val (out, n3) = executionsDuring(Graph.bfs(chainEdges, Seq(1L).toDF("node"), maxHops = 3))
    assert(n3.size === 2 + 3)
    assert(out.count() === 4)
    // hop 1 reaches node 2, hop 2 reaches nothing
    val (_, n2) = executionsDuring(
      Graph.bfs(Seq((1L, 2L)).toDF("src", "dst"), Seq(1L).toDF("node"), maxHops = 30))
    assert(n2.size === 2 + 2)
  }

  test("bfs fuzz-matches a sequential BFS on random sparse digraphs") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      // sequential reference
      val dist = scala.collection.mutable.Map(0L -> 0)
      var frontier = Set(0L)
      for (hop <- 1 to 5; if frontier.nonEmpty) {
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .filterNot(dist.contains)
        frontier.foreach(v => dist(v) = hop)
      }
      val got = Graph.bfs(edges.toDF("src", "dst"), Seq(0L).toDF("node"), maxHops = 5)
        .as[(Long, Int)].collect().toMap
      assert(got === dist.toMap, s"trial $trial")
    }
  }

  test("labelPropagation matches a reference synchronous implementation on random graphs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(0x1A6E1)
    for (trial <- 0 until 4) {
      val n = 8 + rnd.nextInt(8)
      val edges = (0 until (n * 2)).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val iters = 1 + rnd.nextInt(4)
      // reference: synchronous update, most-frequent neighbor label,
      // smallest label on ties — the operator's documented rule
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2)).toMap
      var lbl = adj.keys.map(v => v -> v).toMap
      for (_ <- 1 to iters) {
        lbl = lbl.map { case (v, old) =>
          val counts = adj(v).map(lbl).groupBy(identity).view.mapValues(_.size)
          v -> (if (counts.isEmpty) old
                else counts.toSeq.maxBy { case (l, c) => (c, -l) }._1)
        }
      }
      val got = Graph.labelPropagation(edges.toDF("a", "b"), iters)
        .as[(Long, Long)].collect().toMap
      assert(got === lbl, s"trial $trial (n=$n iters=$iters edges=$edges)")
    }
    for (bad <- Seq(0, 51)) {
      val e = intercept[IllegalArgumentException](
        Graph.labelPropagation(Seq((1L, 2L)).toDF("a", "b"), bad))
      assert(e.getMessage.contains(s"iterations must be in [1, 50]: $bad"))
    }
  }

  test("labelPropagation runs one SQL execution per round") {
    // the symmetrized edges persist lazily, so the rounds are the only
    // executions: each one settles its labels
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    for (iters <- Seq(1, 3)) {
      val (_, n) = executionsDuring(Graph.labelPropagation(path, iters))
      assert(n.size === iters, s"iterations $iters")
    }
  }
}
