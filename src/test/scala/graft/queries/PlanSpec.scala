package graft.queries

import graft.SparkSpec
import graft.functions.Shingles
import graft.plans.PlanShape
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Md5
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.graftbridge.CacheBridge

/** Physical-plan assertions: these lock in the properties that make the
  * queries survive a 100× scale-up — filters reaching the parquet scan,
  * column pruning, broadcast (not shuffle) joins for dimension lookups.
  * A regression here doesn't fail correctness, it fails at 100 TB.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Registry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** Parquet scans of `table` in `df`'s plan: the final plan once it has
    * run (a reused exchange's scan counts once), the initial one before. */
  private def scans(df: DataFrame, table: String): Int =
    PlanShape(df).scans.count(_.relation.location.rootPaths.exists(_.getName == s"$table.parquet"))

  test("q2: predicate pushed to parquet scan, schema pruned") {
    val p = plan("q2_scan_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_shipdate), GreaterThanOrEqual(l_quantity,48"),
      s"missing pushed filters in:\n$p")
    // only the 4 selected + 2 filter columns are read, not all 11
    assert(p.contains("ReadSchema") && !p.contains("l_returnflag"),
      "scan reads columns the query never uses")
  }

  test("q3: all three dimension joins broadcast; fact side never shuffles for the join") {
    val p = plan("q3_dim_join_revenue")
    assert(p.split("BroadcastHashJoin").length - 1 == 3, s"expected 3 broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), "dimension join fell back to a shuffle join")
  }

  test("q20: nested build reads only the columns the query needs") {
    val p = plan("q20_nested_counts")
    assert(!p.contains("l_extendedprice") && !p.contains("l_shipdate"),
      "collect_list carries columns the query never uses")
  }

  test("q38: query set is broadcast, corpus side has no shuffle before scoring") {
    val p = plan("q38_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"ANN corpus join is not broadcast:\n$p")
  }

  test("q1: aggregation is partial (map-side) before the single shuffle") {
    val p = plan("q1_pricing_summary")
    // HashAggregate appears twice: partial + final
    assert(p.split("HashAggregate").length - 1 >= 2, s"no partial aggregation:\n$p")
    assert(p.split("Exchange").length - 1 <= 2, s"too many shuffles:\n$p")
  }

  test("q42: all shifts share one scan — no per-shift Union of re-reads") {
    // q42 localCheckpoints before its global sort, so this executed plan
    // covers the post-checkpoint segment; the guards still catch a
    // reintroduced per-shift Union or a second nested build anywhere
    // downstream, and the one-pass shape upstream is what makes the
    // checkpoint a single materialization in the first place.
    val p = plan("q42_calibrator_shifts")
    assert(!p.contains("Union"), s"shift family re-reads the data per shift:\n$p")
    // one nested build (partial+final objagg), not one per shift
    assert(p.split("collect_list").length - 1 <= 2, s"nested build duplicated:\n$p")
  }

  test("q62: envelope members partial-aggregate before the single shuffle") {
    val p = plan("q62_scale_envelope")
    assert(p.split("HashAggregate").length - 1 >= 2, s"no partial aggregation:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "envelope should be a pure aggregation, not a join")
  }

  test("q62/q75/q77/q81: one exchange total — range partitioning serves both the agg and the sort") {
    for (name <- Seq("q62_scale_envelope", "q75_muon_sr", "q77_dy_ptll_weight",
        "q81_egamma_scale_smear")) {
      val p = plan(name)
      assert(p.split("Exchange").length - 1 == 1,
        s"$name: expected exactly one exchange (rangepartitioning):\n$p")
      assert(p.contains("rangepartitioning"), s"$name: agg input is not range-partitioned:\n$p")
    }
  }

  test("q4: aggregate pushdown removed the countDistinct expand and pre-aggregates below the join") {
    val p = plan("q4_order_customer_revenue")
    assert(!p.contains("Expand"), s"countDistinct expand reappeared:\n$p")
    // pre-agg (partial+final) + final agg (partial+final) = 4 HashAggregates
    assert(p.split("HashAggregate").length - 1 >= 4, s"revenue pre-agg missing:\n$p")
  }

  test("payload-driven queries embed corrections as plan literals, not joins") {
    // the correction payloads (q71 quantile maps, q74 decay-mode scales)
    // ship inside the serialized plan — a join/shuffle for a 10-cell
    // lookup would be the wrong plan at any scale
    for (name <- Seq("q71_recoil_quantile", "q74_tec")) {
      val p = plan(name)
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
        s"$name joins for a plan-literal payload:\n$p")
    }
  }

  test("q70: hybrid JER runs on one nested build — matching adds no extra shuffle") {
    val p = plan("q70_jer_hybrid")
    assert(p.split("collect_list").length - 1 <= 2, s"nested build duplicated:\n$p")
    assert(!p.contains("CartesianProduct"), s"gen matching fell out of the intra-event fold:\n$p")
  }

  test("q82: benchmark shingle set broadcasts; corpus text never shuffles") {
    val p = plan("q82_decontamination")
    assert(p.contains("BroadcastHashJoin"), s"benchmark join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side shuffled for the benchmark join:\n$p")
  }

  test("q86/q87: quantizer codebooks are plan literals — assignment plans no join") {
    for (name <- Seq("q86_pq_codes", "q87_kmeans_step")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name joins for a plan-literal codebook:\n$p")
    }
  }

  test("q58: native vector-mean aggregate — whole vectors aggregate, no pre-agg explode") {
    val p = plan("q58_embedding_centroids")
    assert(p.contains("partial_grid_vector_mean"),
      s"q58 lost the native GridVectorMean aggregate (or its map-side combine):\n$p")
    // the posexplode now sits ABOVE the aggregate (640 result rows), so
    // exactly two exchanges remain: hash by label, range for the sort
    assert(p.split("Exchange").length - 1 == 2, s"unexpected exchange count:\n$p")
  }

  test("q84: repetition stats are pure map-side work — only the output sort exchanges") {
    val p = plan("q84_repetition_stats")
    assert(p.split("Exchange").length - 1 == 1 && p.contains("rangepartitioning"),
      s"per-row stats should not shuffle before the sort:\n$p")
  }

  test("registry sweep: no query plans a cartesian product or an unexpected NLJ") {
    // ANN/near-dup queries intentionally broadcast-NLJ a small query set
    // against the corpus; everything else must stay equi-join shaped.
    // q79's probe-membership join (array_contains) is non-equi by design:
    // a tiny broadcast query side against the corpus scan, like q38
    // q89 broadcast-crossJoins a single-row scalar (corpus size N) into
    // the tf table — the canonical scalar-subquery shape
    // q97/q98 broadcast-crossJoin one-row corpus scalars (N/avgdl, total
    // token count) like q89 — a broadcast of bytes, not data
    // q143 broadcast-crossJoins one-row totals (n1/n2) into the bin/ECDF
    // tables and the two one-row stat results into each other — scalar
    // shapes like q89/q97/q98
    val nljAllowed = Set("q38_ann_bruteforce", "q39_ann_ivf", "q40_embedding_dedup",
      "q79_ann_multiprobe", "q88_pq_adc", "q89_tfidf_topk",
      "q93_ann_recall", // composes q38's broadcast-NLJ exact ranking
      "q187_knn_accuracy", // composes q38's broadcast-NLJ brute scorer
      "q193_semantic_communities", // composes the same brute scorer
      "q209_margin_mining", // two bruteForceTopK passes (fwd+bwd), same shape
      "q97_bm25", "q98_unigram_nll", "q143_psi_drift",
      // q164 cross-joins the tiny row-total × col-total tables to build
      // the full contingency grid (ka×kb cells, fail-fast bounded by
      // chiSquare's maxCells guard; n/ka/kb are plan literals since r5)
      "q164_chi_square",
      // q168 composes q40's pair stage (allowed above) and cross-joins
      // three one-row summary aggregates — scalar shapes like q89
      "q168_semantic_dedup",
      // q173 cross-joins the one-row corpus token totals into the
      // driver-sized (≤ nMerges rows) merge table — scalar shape
      "q173_bpe_train",
      // q178 broadcast-crossJoins the one-row corpus token totals into
      // the tf table — scalar shape like q89/q97/q98
      "q178_dsir_weights",
      // q179 broadcast-crossJoins the one-row reference bigram total —
      // scalar shape like q89/q97/q98
      "q179_interpolated_nll",
      // q184 broadcast-crossJoins the one-row class totals — same shape
      "q184_nb_quality_llr",
      // q181 broadcast-crossJoins the one-row Σn^α scalar into the
      // group-width rate table — scalar shape like q89
      "q181_temperature_sample")
    spark.catalog.clearCache()
    val offenders = Registry.all.flatMap { q =>
      val p =
        try PlanShape(Registry.queries(q.name)(spark, dir))
        catch { case e: Throwable => fail(s"${q.name} failed to plan: ${e.getMessage}") }
      val cartesian = p.count[CartesianProductExec] > 0
      val nlj = p.count[BroadcastNestedLoopJoinExec] > 0 && !nljAllowed(q.name)
      if (cartesian || nlj) Some(q.name) else None
    }
    assert(offenders.isEmpty, s"cartesian/NLJ plans: $offenders")
    // persist registers at call time: planning alone would leave a cache
    assert(CacheBridge.noCachedRelations(spark), "a registry query left a cached relation")
  }

  test("q146: the point-in-time join plans with NO join operator at all") {
    // scd2 (window) + as-of (union-sort-window) + final agg — interval
    // membership never becomes a BETWEEN theta-join
    val p = plan("q146_pit_join")
    assert(!p.contains("Join"), s"PIT join should plan joinless:\n$p")
    assert(p.contains("Window"), s"expected the as-of window formulation:\n$p")
  }

  test("q150: the Gram explode streams into a partial hash aggregate — no generate materialization") {
    val p = plan("q150_gram_matrix")
    // partial agg (map-side d² cells) then one hash exchange, one range sort
    assert(p.split("Exchange").length - 1 == 2, s"unexpected exchange count:\n$p")
    val genIdx = p.indexOf("Generate")
    val aggIdx = p.indexOf("HashAggregate")
    assert(genIdx >= 0 && aggIdx >= 0, s"expected Generate + HashAggregate:\n$p")
  }

  test("q95: as-of join is union-sort-window — no join operator, no pair blow-up") {
    val p = plan("q95_asof_join")
    assert(!p.contains("Join"), s"as-of join should plan joinless:\n$p")
    assert(p.contains("Window"), s"expected the window formulation:\n$p")
  }

  test("q96: band join stays equi-shaped (bucket key), never nested-loop") {
    val p = plan("q96_band_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"band join fell off the bucketed equi-join path:\n$p")
  }

  test("q107: selective predicates reach the scans; constant dims broadcast") {
    val p = plan("q107_local_supplier_volume")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") || p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"date filter not pushed to the orders scan:\n$p")
    assert(p.contains("EqualTo(r_name,ASIA)"), s"region filter not pushed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"nation/region should broadcast:\n$p")
  }

  test("q128: AUC's corpus pass partially aggregates; the rank window sees the histogram") {
    val p = plan("q128_auc")
    // partial + final HashAggregate for the (group, score) dedup —
    // the corpus never reaches the window un-aggregated
    assert(p.split("HashAggregate").length - 1 >= 2, s"no partial aggregation:\n$p")
    assert(p.contains("Window"), s"expected the rank window:\n$p")
  }

  test("q129: the corpus running-max window is bucket-partitioned (never one task)") {
    val p = plan("q129_skyline")
    // the distinct-points window must ride the range-bucket id; only the
    // bucket-maxima prefix fold (≤ `buckets` rows) may single-partition
    assert(p.contains("hashpartitioning(__b"),
      s"skyline window lost its bucket partitioning:\n$p")
    assert(p.contains("RoundRobinPartitioning") || p.contains("rangepartitioning"),
      s"expected the range bucketing exchange:\n$p")
  }

  test("q131/q135: per-key window ops exchange once on the key") {
    val ewma = plan("q131_ewma")
    assert(ewma.contains("Window"), s"expected window in:\n$ewma")
    val sample = plan("q135_reservoir")
    // hash exchange on the group + the final presentation sort only
    assert(sample.split("Exchange").length - 1 <= 2,
      s"sampling shuffles more than (group key, output sort):\n$sample")
  }

  test("q18: top-20 plans as TakeOrdered, not a global rank window over all users") {
    val p = plan("q18_user_rank")
    assert(p.contains("TakeOrderedAndProject"),
      s"q18 lost its TakeOrdered top-k plan:\n$p")
    // the only window left runs over the 20-row result (positional rank),
    // never the full post-aggregate user table: the take must come first
    assert(p.indexOf("TakeOrderedAndProject") > p.indexOf("Window"),
      s"rank window runs before the top-k cut:\n$p")
  }

  test("q165: per-group cap is a bounded aggregate — no rank window, partial agg before the one exchange") {
    val p = plan("q165_source_cap")
    assert(!p.contains("Window"),
      s"cap fell back to a rank window over full groups:\n$p")
    // TopK is a TypedImperativeAggregate: partial_ buffers map-side, so
    // the exchange carries ≤k pairs per (task, source)
    assert(p.contains("partial_graft_topk") || p.contains("partial_topk") ||
      (p.contains("ObjectHashAggregate") && p.split("Exchange").length - 1 <= 2),
      s"cap aggregate is not map-side partial:\n$p")
  }

  test("q8/q91: top-k and representative picks are bounded aggregates — no rank window, partial map-side") {
    // q8 partitions by l_returnflag (3 corpus-third groups), q91 by
    // near-dup component (boilerplate clusters): both window groups grow
    // with the corpus and can never split across tasks — the r10 TopK
    // rewrite must not regress to the window layout
    for (name <- Seq("q8_topk_per_group", "q91_dedup_representatives")) {
      val p = plan(name)
      assert(!p.contains("Window"),
        s"$name fell back to a rank window over corpus-scale groups:\n$p")
      assert(p.contains("partial_graft_topk"),
        s"$name: TopK aggregate is not map-side partial:\n$p")
    }
  }

  test("q89: per-document ranking is the bounded string-id TopK; only the df window remains") {
    val p = plan("q89_tfidf_topk")
    assert(p.contains("partial_graft_topk"),
      s"q89: ranking regressed from the bounded TopK aggregate:\n$p")
    // exactly ONE window node: the term-partition df count that shares
    // the tf pass (the q167 one-scan rationale); the doc-partition rank
    // window must stay gone
    val winNodes = p.linesIterator.count(_.matches(".*\\bWindow \\[.*"))
    assert(winNodes == 1, s"q89: expected only the df window, saw $winNodes:\n$p")
  }

  test("q42 inner: flat shift projection + one codegen hash aggregate — no nested build") {
    // the pre-checkpoint build (the part the executed-plan test above
    // cannot see): three per-item shift values project map-side and sum
    // through ONE keyed exchange of long partials — the r9
    // collect_list→mapCollection→explode round-trip must stay gone
    val p = Physics.q42Inner(spark, dir).queryExecution.executedPlan.toString
    assert(!p.contains("collect_list"), s"nested build reappeared:\n$p")
    assert(!p.contains("ObjectHashAggregate"),
      s"q42 aggregate fell out of codegen HashAggregate:\n$p")
    assert(p.split("Exchange").length - 1 == 1,
      s"expected exactly one exchange (hash by o_orderkey):\n$p")
    assert(p.split("HashAggregate").length - 1 >= 2, s"no partial aggregation:\n$p")
  }

  test("q183: prune rank is bucket-partitioned — never PARTITION BY cell alone") {
    // the old form ranked with PARTITION BY label alone — corpus/|cells|
    // rows through one unsplittable task per cell; the bucketed form
    // must keep every row-level ranking window (cell, __b)-partitioned.
    // Asserted on the PRE-checkpoint ranked pass (the final frame's plan
    // is truncated at the localCheckpoint and would prove nothing).
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val p = graft.operators.Similarity
      .prototypicalityRanked(emb, hardest = true,
        cellCol = "label", idCol = "vec_id", vecCol = "embedding")
      .queryExecution.executedPlan.toString
    assert(!p.matches("(?s).*windowspecdefinition\\(label#\\d+, __cos.*"),
      s"rank window regressed to PARTITION BY cell alone:\n$p")
    assert(p.contains("windowspecdefinition(label#") && p.contains(", __b#"),
      s"expected the (cell, bucket)-partitioned rank window:\n$p")
    // exactly two hash exchanges: the cell-width centroid aggregate and
    // the ONE (cell, bucket) row-level exchange serving both windows
    assert(p.split("Exchange hashpartitioning").length - 1 == 2,
      s"unexpected exchange count:\n$p")
    assert(p.matches("(?s).*hashpartitioning\\(label#\\d+, __b#.*"),
      s"row-level exchange is not (cell, bucket)-keyed:\n$p")
  }

  test("q157: the running-weight windows see the (group, value) histogram, not row-level data") {
    // the row-level form ran corpus-third window groups through one task
    // each (measured 37 s vs 3 s at sf5); the histogram reduction must
    // stay: a partial+final hash aggregate BELOW the window, so the
    // window's input is |distinct values| rows per group
    val p = plan("q157_weighted_median")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, s"expected the running-weight window:\n$p")
    // plan prints top-down: a (partial+final) histogram aggregate must
    // appear BELOW (printed after) the window that consumes it — the
    // final min/max aggregate above the window doesn't count
    val aggBelow = p.indexOf("HashAggregate", winIdx)
    assert(aggBelow > winIdx, s"window runs on row-level data, not the histogram:\n$p")
    assert(p.indexOf("HashAggregate", aggBelow + 1) > 0,
      s"histogram aggregate is not map-side partial:\n$p")
  }

  test("q166: incremental dedup anti-joins digests only — document text never shuffles") {
    val df = Registry.queries("q166_incremental_dedup")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), s"expected an anti join:\n$p")
    // every exchange carries digest/id projections, never the text column —
    // checked on the exchange NODES (partitioning keys at any position AND
    // the projected output), not a leading-prefix string match, which a
    // secondary-key shuffle or a text column riding through an exchange's
    // output would slip past
    val ex = PlanShape(df).shuffles
    assert(ex.nonEmpty, s"expected at least one shuffle in:\n$p")
    ex.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document bodies ride through an exchange's output:\n$e")
      assert(!e.outputPartitioning.toString.matches("(?s).*\\btext#\\d+.*"),
        s"document bodies are a shuffle partitioning key:\n$e")
    }
  }

  test("q167: novelty df folds into the shingle pass — documents scanned once") {
    val df = Registry.queries("q167_ngram_novelty")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the r7 two-subplan form (df aggregate + self-join on the exploded
    // frame) re-scanned and re-shingled the corpus: partial aggregation
    // below the exchange defeats exchange reuse, so the parquet scan
    // appeared twice. The window form shares one scan.
    val n = scans(df, "documents")
    assert(n == 1, s"expected exactly one scan of documents, saw $n:\n$p")
    assert(p.contains("Window"), s"df is not the piggybacked window pass:\n$p")
  }

  test("q170: line-df aggregate shuffles keys only; line bodies ride just the reassembly exchange") {
    val df = Registry.queries("q170_line_dedup")(spark, dir)
    val ex = PlanShape(df).shuffles
    assert(ex.nonEmpty)
    // the df-count exchange partitions on the md5 key __k: it must not
    // carry the line text. The one exchange allowed to carry lines is the
    // doc_id reassembly (each group = one document's own lines).
    val dfAgg = ex.filter(_.outputPartitioning.toString.contains("__k#"))
    assert(dfAgg.nonEmpty, s"expected the key-partitioned df exchange:\n${ex.mkString("\n")}")
    dfAgg.foreach { e =>
      assert(!e.output.exists(_.name == "__line"),
        s"line bodies ride the df aggregate's exchange:\n$e")
    }
    val lineCarrying = ex.filter(_.output.exists(_.name == "__line"))
    assert(lineCarrying.forall(_.outputPartitioning.toString.contains("doc_id#")),
      s"lines shuffle outside the reassembly exchange:\n${lineCarrying.mkString("\n")}")
  }

  test("q178: dsir scans documents once at runtime; text never rides an exchange") {
    val df = Registry.queries("q178_dsir_weights")(spark, dir)
    // the per-dim model aggregates the SAME tf exchange as the probe side
    // — AQE stage reuse dedupes the identical subtrees at runtime, so
    // execute first and assert on the FINAL plan (the initial plan
    // legitimately shows the model subplan un-deduped); a second
    // runtime parquet scan would mean the corpus tokenizes twice (the
    // q167 lesson)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val shape = PlanShape(df)
    val n = scans(df, "documents")
    assert(n == 1, s"expected exactly one runtime scan of documents, saw $n:\n$p")
    assert(shape.count[ReusedExchangeExec] > 0,
      s"model aggregate does not reuse the tf exchange:\n$p")
    shape.shuffles.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document bodies ride through an exchange:\n$e")
    }
    // a WindowExec group can never split across tasks, so the hot dim
    // would serialize one task at corpus scale: the model (≤ dims rows)
    // attaches as a broadcast join, and the probe keeps its partitioning
    assert(shape.windows.isEmpty, s"q178 plans a WindowExec:\n$p")
    assert(shape.count[BroadcastHashJoinExec] > 0, s"per-dim model is not broadcast back:\n$p")
    // dim is non-nullable: no inferred isnotnull(dim) re-runs the md5
    // chain in a Filter below the tf aggregate
    val md5Filters = shape.all[FilterExec].filter(_.condition.exists(_.isInstanceOf[Md5]))
    assert(md5Filters.isEmpty, s"a Filter re-evaluates md5:\n${md5Filters.mkString("\n")}")
  }

  test("q179: interpolated LM scans documents once at runtime; text never rides an exchange") {
    val df = Registry.queries("q179_interpolated_nll")(spark, dir)
    // all three model lookups are window sums over the one bigram pass;
    // the U-total aggregate reuses the first window's exchange at runtime
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val n = scans(df, "documents")
    assert(n == 1, s"expected exactly one runtime scan of documents, saw $n:\n$p")
    assert(PlanShape(df).count[ReusedExchangeExec] > 0,
      s"U-total aggregate does not reuse the bigram exchange:\n$p")
    PlanShape(df).shuffles.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document bodies ride through an exchange:\n$e")
    }
  }

  test("q184: NB classifier scans documents once at runtime; text never rides an exchange") {
    val df = Registry.queries("q184_nb_quality_llr")(spark, dir)
    // both class counts are window sums over the one token pass; the
    // class-totals aggregate reuses the groupBy exchange at runtime
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val n = scans(df, "documents")
    assert(n == 1, s"expected exactly one runtime scan of documents, saw $n:\n$p")
    assert(PlanShape(df).count[ReusedExchangeExec] > 0,
      s"class-totals aggregate does not reuse the token exchange:\n$p")
    PlanShape(df).shuffles.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document bodies ride through an exchange:\n$e")
    }
  }

  test("q182: duplicate spans scan documents once; no self-join; text never rides an exchange") {
    val df = Registry.queries("q182_duplicate_spans")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val n = scans(df, "documents")
    assert(n == 1, s"expected exactly one runtime scan of documents, saw $n:\n$p")
    // duplicated-ness is a window count over the gram partition of the
    // same pass — a postings SELF-JOIN here would be the df² fan-out
    assert(!p.contains("Join"), s"duplicate flag must not be a join:\n$p")
    PlanShape(df).shuffles.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"document bodies ride through an exchange:\n$e")
    }
  }

  test("q177: projection is map-side — component literals, no join or exchange above the scan") {
    // train on the tiny fixture, then inspect the PROJECTION plan alone:
    // the component must enter as literals (one scan, zero exchanges
    // besides the output sort)
    val emb = graft.core.Tables.load(spark, dir, "embeddings")
    val comp = graft.ml.Pca.trainTopComponent(
      emb, org.apache.spark.sql.functions.col("embedding"), dim = 64, iterations = 2)
    val proj = emb.select(org.apache.spark.sql.functions.col("vec_id"),
      graft.ml.Pca.project(org.apache.spark.sql.functions.col("embedding"), comp).as("score"))
    val p = proj.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"projection is not pure map-side column work:\n$p")
  }

  test("q36/q37: documents are tokenized once, above the round-robin exchange") {
    // and q175, whose batch and corpus sides are one shingle table each.
    // The tables are checkpoints built in their own SQL executions, so the
    // pin reads every execution of the query. The empty-set filter must
    // not be pushed under the repartition: there it re-runs the tokenizer
    // on the input's partitions before the exchange
    def tokenizes(p: SparkPlan) = p.expressions.exists(_.exists(_.isInstanceOf[Shingles]))
    for ((name, tables) <- Seq("q36_minhash_lsh" -> 1, "q37_simhash" -> 1,
        "q175_incremental_near_dup" -> 2)) {
      val (_, ran) = executionsDuring(Registry.queries(name)(spark, dir).collect())
      val shapes = ran.map(PlanShape(_))
      val roundRobin = shapes.flatMap(_.shuffles)
        .filter(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
      assert(roundRobin.nonEmpty, s"$name lost its round-robin repartition")
      assert(shapes.map(_.all[SparkPlan].count(tokenizes)).sum == tables,
        s"$name does not tokenize in exactly $tables plan nodes")
      roundRobin.foreach { e =>
        assert(!PlanShape(e.child).all[SparkPlan].exists(tokenizes),
          s"$name tokenizes below the round-robin exchange:\n$e")
      }
      assert(shapes.forall(_.count[InMemoryTableScanExec] == 0), s"$name reads a cached relation")
    }
  }

  test("q36: the LSH candidates are one distinct: an aggregate over exactly (id_a, id_b)") {
    // perfbench's operators.lsh_candidate_pairs reads this node's output rows
    val df = Registry.queries("q36_minhash_lsh")(spark, dir)
    df.collect()
    val distinct = PlanShape(df).all[BaseAggregateExec].filter { a =>
      a.groupingExpressions.map(_.references.map(_.name).mkString) == Seq("id_a", "id_b") &&
        a.aggregateExpressions.isEmpty
    }
    assert(distinct.nonEmpty && distinct.forall(_.metrics.contains("numOutputRows")),
      s"no distinct over (id_a, id_b):\n${df.queryExecution.executedPlan}")
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    // codegen stages ('*(n)' prefixes) only appear in the FINAL adaptive
    // plan, so execute before inspecting
    val df = Registry.queries("q2_scan_pushdown")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"hot path fell out of codegen:\n$p")
  }
}
