package graft.queries

import org.apache.spark.sql.execution.SparkPlan

import graft.SparkSpec

/** Physical-plan audits for the query suite — the properties that decide
  * whether a plan survives a 100× scale-up, asserted so they cannot
  * silently regress:
  *
  *   - filters reach the parquet scan (PushedFilters), so row groups are
  *     skipped at the source instead of decoded and discarded;
  *   - column pruning reaches the scan (ReadSchema), so a 2-column query
  *     over a 9-column table reads 2 columns;
  *   - bounded dimensions join via broadcast hash join, not a shuffle of
  *     the fact side;
  *   - NO query in the registry executes a CartesianProduct — the only
  *     intentional unkeyed joins are broadcast nested loops against
  *     bounded (1-row aggregate / query-batch / centroid) sides.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): SparkPlan =
    Registry.queries(name)(spark, sf001).queryExecution.executedPlan

  private def planStr(name: String): String = plan(name).toString

  test("q_a1: the date filter is pushed down to the lineitem parquet scan") {
    val p = planStr("q_a1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"date filter not pushed to scan:\n$p")
  }

  test("q_a10: scan reads ONLY the two projected columns of orders") {
    val p = planStr("q_a10_distinct")
    val read = "ReadSchema: struct<o_orderstatus:string,o_orderpriority:string>"
    assert(p.contains(read), s"column pruning failed:\n$p")
  }

  test("flagship joins the bounded nation dim via broadcast, not shuffle") {
    val p = planStr("q_kpi_nation_month")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("x_text_topterms: top-k per group runs as WindowGroupLimit with partial aggregation") {
    val p = planStr("x_text_topterms")
    assert(p.contains("WindowGroupLimit"), s"no per-partition k-heap in:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"no partial aggregation before the shuffle:\n$p")
  }

  test("x_range_band_revenue: the range join plans as an equi-join, not a nested loop") {
    val p = planStr("x_range_band_revenue")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$p")
  }

  test("x_rel_semi_anti: semi and anti joins appear as such (no probe-side blowup)") {
    val p = planStr("x_rel_semi_anti")
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
  }

  test("x_rel_rollup: grouping sets run as one aggregation pass (Expand), no self-union") {
    val p = planStr("x_rel_rollup")
    assert(p.contains("Expand"), s"rollup did not expand grouping sets:\n$p")
    assert(!p.contains("Union"), s"rollup fell back to a self-union:\n$p")
  }

  test("q_j8: star join broadcasts the region-nation dim and prunes fact columns") {
    val p = planStr("q_j8_star_profit")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast of nation dim in:\n$p")
    // the part-type filter must reach the part scan, not run post-join
    assert(p.contains("In(p_type, [ECONOMY,PROMO])"),
      s"part-type filter not pushed to scan:\n$p")
    // only the 5 needed lineitem columns are read (of 11)
    assert(p.contains("struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint," +
      "l_extendedprice:double,l_discount:double>"),
      s"lineitem scan not pruned to the 5 needed columns:\n$p")
  }

  test("x_scd2_merge: ONE full-outer join; snapshots are not recomputed per role") {
    val p = planStr("x_scd2_merge")
    assert(p.contains("FullOuter"), s"no full-outer merge join in:\n$p")
    // one scan of orders per snapshot side — a filter-per-role union
    // would specialize the join per branch and scan orders 6x
    val ordersScans = p.split("orders.parquet").length - 1
    assert(ordersScans <= 2, s"orders scanned $ordersScans times:\n$p")
  }

  test("x_rel_correlated_scalar: the correlated subquery decorrelates to an aggregate + join") {
    val p = planStr("x_rel_correlated_scalar")
    // Catalyst must rewrite the per-row subquery into a grouped aggregate
    // joined back on the correlation key — NOT a subquery re-executed per
    // outer row (which would be O(n) scans) and NOT a nested loop
    assert(p.contains("HashAggregate") && (p.contains("Join") || p.contains("SortMergeJoin")),
      s"no decorrelated aggregate+join in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"correlated subquery fell back to a nested loop:\n$p")
  }

  test("x_graph_pagerank: loop-invariant subtrees re-enter iterations as ReusedExchange") {
    // The 3 unrolled iterations each reference the edge list and the
    // static degree frame. Without exchange reuse the orders x lineitem
    // edge build would execute once PER ITERATION — the difference
    // between O(E) and O(iters * E) input work at scale.
    // AQE applies stage reuse at RUNTIME — execute first, then read the
    // final adaptive plan (pre-execution it prints isFinalPlan=false
    // with no reuse nodes yet). x_graph_ppr runs the same loop with a
    // seeded teleport vector.
    for (q <- Seq("x_graph_pagerank", "x_graph_ppr")) {
      val df = Registry.queries(q)(spark, sf001)
      // execute through THIS QueryExecution (a .write would plan a fresh
      // one and leave df's adaptive plan unfinalized)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), s"$q: plan not executed adaptively:\n${p.take(500)}")
      // NOTE the plan STRING still re-prints reused subtrees (so naive
      // scan-counting over the text overcounts); the ReusedExchange nodes
      // are what the runtime actually wires in.
      val reuses = "ReusedExchange".r.findAllIn(p).size
      assert(reuses >= 3, s"$q: expected >=3 reused exchanges, got $reuses in:\n$p")
    }
  }

  test("x_scale_zorder: the interleave is pure per-row codegen — no join, no row expansion") {
    val p = planStr("x_scale_zorder")
    assert(!p.contains("Join") && !p.contains("Expand") && !p.contains("Generate"),
      s"z-order key computation left the row pipeline:\n$p")
    assert(p.contains("HashAggregate"), s"no cell aggregate in:\n$p")
  }

  test("x_dedup_editdist: segment blocking joins as an equi-join, distances run once per pair") {
    val p = planStr("x_dedup_editdist")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"segment blocking fell back to a non-equi join:\n$p")
    // the pair-dedup aggregate must sit between the join and the DP
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
      s"no candidate-pair dedup before the distance computation:\n$p")
  }

  test("x_ts_sliding_window: overlapping windows run as ONE Expand pass, not per-offset rescans") {
    val p = planStr("x_ts_sliding_window")
    assert(p.contains("Expand"), s"no Expand for sliding windows in:\n$p")
    val scans = p.split("events.parquet").length - 1
    assert(scans <= 1, s"events scanned $scans times:\n$p")
  }

  test("x_scale_bucketed_join: bucketed SMJ reads bucket-to-bucket — no exchange on either join side") {
    val p = planStr("x_scale_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"no sort-merge join in:\n$p")
    assert(p.contains("Bucketed: true"), s"scans did not use bucketing:\n$p")
    // the ONLY shuffle is the final per-status aggregate; the join itself
    // must ride the bucket layout (this is the entire point of bucketing)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 1, s"expected <=1 shuffle (final agg), got $shuffles:\n$p")
  }

  test("partition pruning: a filtered read of a partitioned layout scans ONLY matching partitions") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft_audit/part_orders"
    graft.core.Tables.orders(spark, sf001)
      .withColumn("order_year", year(col("o_orderdate")))
      .write.partitionBy("order_year").mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir).filter(col("order_year") === 1995)
    val p = read.queryExecution.executedPlan.toString
    // the year predicate must land in PartitionFilters (directory-level
    // skip before any file is opened), NOT in PushedFilters/post-scan
    // (df.inputFiles can't check this — it lists from the pre-pruning
    // logical relation)
    assert("PartitionFilters: \\[[^\\]]*1995".r.findFirstIn(p).isDefined,
      s"year predicate not in PartitionFilters:\n$p")
    assert(!p.contains("PushedFilters: [IsNotNull(order_year)"),
      s"partition column leaked into data filters:\n$p")
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft_audit/part_orders_dpp"
    graft.core.Tables.orders(spark, sf001)
      .withColumn("order_year", year(col("o_orderdate")))
      .write.partitionBy("order_year").mode("overwrite").parquet(dir)
    val fact = spark.read.parquet(dir)
    // DPP requires a SELECTIVE predicate on the dim side (a bare dim
    // join never prunes); the filter is on a NON-key column, so static
    // pushdown can't reach the fact — only runtime pruning can
    val dim = spark.range(1992, 2001).select(col("id").cast("int").as("order_year"),
        concat(lit("Y"), col("id")).as("label"))
      .filter(col("label") === "Y1995")
    val joined = fact.join(dim, Seq("order_year"))
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
    val p = joined.queryExecution.executedPlan.toString
    // the fact scan must carry a dynamicpruning subquery on order_year:
    // at 100 TB this is the difference between scanning 2 partitions
    // and scanning 7 years because the filter only exists on the dim
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning expression on the fact scan:\n$p")
  }

  test("x_multimodal_features / x_multimodal_audio: shuffle-free per-row codec pipelines") {
    // real encode->decode media kernels are embarrassingly parallel:
    // the whole pipeline must be scan -> mapPartitions chain with ZERO
    // exchanges (payloads never cross the network), and the documents
    // scan must read ONLY doc_id — the generator derives everything
    for (name <- Seq("x_multimodal_features", "x_multimodal_audio")) {
      val p = planStr(name)
      assert(!p.contains("Exchange"), s"$name shuffles media payloads:\n$p")
      assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
        s"$name reads more than doc_id from documents:\n$p")
    }
  }

  test("x_multimodal_resize_frames: the ONLY exchange is the final per-doc aggregate") {
    val p = planStr("x_multimodal_resize_frames")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"media resize chain shuffles payloads:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"no map-side partial aggregate before the shuffle:\n$p")
  }

  test("x_graph_pagerank_directed: rank frames are checkpointed, not recomputed") {
    // the converged variant localCheckpoints each round: the final plan
    // must read ranks from checkpointed blocks (Scan ExistingRDD), not
    // re-derive the whole iteration chain (and must not cartesian the
    // 1-row dangling aggregate)
    val df = Registry.queries("x_graph_pagerank_directed")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"ranks not served from checkpointed blocks:\n$p")
    assert(!p.contains("CartesianProduct"), s"dangling blend planned unkeyed:\n$p")
  }

  test("x_graph_triangles: filter pushed, 3-col pruning, every join keyed") {
    val p = planStr("x_graph_triangles")
    assert(p.contains("GreaterThanOrEqual(l_quantity,45.0)"),
      s"quantity filter not pushed to the lineitem scan:\n$p")
    assert(p.contains("struct<l_orderkey:bigint,l_partkey:bigint,l_quantity:double>"),
      s"lineitem scan not pruned to the 3 needed columns:\n$p")
    // wedge generation and closure must both be equi-joins — a nested
    // loop here is the O(hot-degree²) blowup orientation exists to kill
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"triangle join fell back to an unkeyed join:\n$p")
  }

  test("x_dedup_semantic: centroid and representative sides broadcast; corpus never shuffles for them") {
    val p = planStr("x_dedup_semantic")
    // kmeansAssign's corpus × 128-centroid product: broadcast nested
    // loop with the bounded side built, collapsed by min-struct agg
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid product not a bounded-side broadcast:\n$p")
    assert(p.contains("GlobalLimit 128"),
      s"centroid pick not capped at 128:\n$p")
    // member-vs-representative cosine join: the ≤k-row rep side is the
    // build side of a broadcast hash join
    assert(p.contains("BroadcastHashJoin"),
      s"rep join not broadcast:\n$p")
  }

  test("x_text_line_dedup: stitch-back is a partial aggregate, no global window") {
    val p = planStr("x_text_line_dedup")
    // the per-doc reassembly must combine map-side (partial_collect_list
    // before the exchange) and there must be NO corpus-wide window
    assert(p.contains("partial_collect_list"),
      s"no map-side partial aggregation for the stitch:\n$p")
    assert(!p.contains("Window"), s"unexpected window in:\n$p")
  }

  test("x_text_hashclf: pure per-row scoring — zero exchanges, codegen end-to-end") {
    val p = planStr("x_text_hashclf")
    assert(!p.contains("Exchange"), s"per-row classifier plans a shuffle:\n$p")
    // codegen stages print as "*(n)" in the executed plan
    assert(p.contains("*("), s"classifier fell out of codegen:\n$p")
  }

  test("x_sketch_countmin: top-k probes as heap, probe join broadcast, cells agg partial") {
    val p = planStr("x_sketch_countmin")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 probe pick is not a bounded heap:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"probe-to-cells join is not broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"sketch cells lack map-side partial aggregation:\n$p")
  }

  test("x_dq_k_anonymity: ONE hash aggregate with map-side partials, no join") {
    val p = planStr("x_dq_k_anonymity")
    assert(p.contains("partial_count"),
      s"k-anonymity groupBy lacks map-side combine:\n$p")
    assert(!p.contains("Join"), s"unexpected join in the privacy audit:\n$p")
  }

  test("x_text_bigram_logprob: model joins are keyed, aggregates partial") {
    val p = planStr("x_text_bigram_logprob")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"bigram counts lack map-side combine:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"model join fell back to nested-loop:\n$p")
  }

  test("x_dedup_containment: candidates come from an equi-join on (block, shingle)") {
    val p = planStr("x_dedup_containment")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"containment candidate generation is not an equi-join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"no hash/merge join found:\n$p")
  }

  test("x_multimodal_audio_frames: the decode+frame pipeline plans zero exchanges") {
    val p = planStr("x_multimodal_audio_frames")
    assert(!p.contains("Exchange"),
      s"per-row audio frame features plan a shuffle:\n$p")
  }

  test("x_curation_quantile_gate: every window is partitioned (no one-task language rank)") {
    // the scale claim of the decomposed gate: no window may run with an
    // empty partition spec (ORDER BY without PARTITION BY = all rows in
    // one task). An unpartitioned WindowExec OMITS the empty partition
    // bracket from its toString (grepping for `], [], [` never fires)
    // but always requires Exchange SinglePartition under it — so the
    // exchange is the detector, and the gate must never plan one
    // positive control: the detector must FIRE on a genuinely
    // unpartitioned window, or the assertion below is vacuous
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val ctl = Seq(1, 2).toDF("x")
        .withColumn("rn", row_number().over(Window.orderBy(col("x"))))
        .queryExecution.executedPlan.toString
      assert(ctl.contains("Exchange SinglePartition"),
        s"single-partition detector failed its positive control:\n$ctl")
    }
    val p = planStr("x_curation_quantile_gate")
    assert(p.contains("Window"), s"no window operator found in:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"the gate plans a single-partition exchange (one-task stage):\n$p")
  }

  test("x_dedup_passages: seed and pair joins are hash/merge equi-joins") {
    val p = planStr("x_dedup_passages")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"passage candidate generation is not an equi-join:\n$p")
    assert(p.contains("LeftSemi"), s"no semi join for the seed filter in:\n$p")
  }

  test("x_sample_priority: top-k runs as TakeOrderedAndProject, never a global sort") {
    val p = planStr("x_sample_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"priority sample should plan per-partition heaps + k-row reduce:\n$p")
    // the global Sort is only over the k sampled rows (rank window),
    // never the corpus: no corpus-wide Exchange rangepartitioning
    assert(!p.contains("rangepartitioning"),
      s"corpus-wide range partitioning in a top-k sample:\n$p")
  }

  test("x_embed_project: sign matrix broadcasts; the corpus is never shuffled") {
    val p = planStr("x_embed_project")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"sign matrix should broadcast:\n$p")
    // the only exchanges allowed belong to the bounded 1024-row sign
    // matrix build (range → two tiny aggregates); corpus-side shuffle
    // would show as an exchange keyed on vec_id
    assert(!p.contains("hashpartitioning(vec_id"),
      s"corpus shuffled on vec_id — projection should be map-side:\n$p")
  }

  test("x_er_jarowinkler: candidates from a keyed join; JW scoring post-join, codegen'd") {
    val p = planStr("x_er_jarowinkler")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"blocked candidate generation must be an equi-join:\n$p")
    assert(p.contains("graft_jaro_winkler") || p.contains("jaroWinkler") ||
      p.contains("jaro"), s"native JW expression missing from plan:\n$p")
  }

  test("x_dq_winsorize: per-group stats broadcast back onto the row stream") {
    val p = planStr("x_dq_winsorize")
    assert(p.contains("BroadcastHashJoin"),
      s"bounded stats side should broadcast:\n$p")
  }

  test("no query in the registry executes a CartesianProduct") {
    Registry.queries.keys.toSeq.sorted.foreach { name =>
      val p = planStr(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$p")
    }
  }

  test("x_dedup_dup_spans: island windows partition by document, text filter pushed") {
    val p = planStr("x_dedup_dup_spans")
    // positive control for the detector lives in the global-window test
    // below: a corpus-sized single-partition window WOULD print
    // `Exchange SinglePartition`
    assert(!p.contains("Exchange SinglePartition"),
      s"span islands must never run a single-task window:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(text)"),
      s"text IS NOT NULL not pushed to the documents scan:\n$p")
  }

  test("x_scale_zonemap_pruning / x_layout_hilbert: the only single-task frame is the 32-row offsets prefix sum") {
    // globalRowNumberBy's design: local windows partition by __pid;
    // ONE single-partition window runs over the #partitions-row offsets
    // frame (bounded by the partition count, never the corpus).
    // zonemap additionally computes the 1-row n_total global aggregate
    // (its final stage is single-partition by nature). Pin the EXACT
    // bounded budget — one more hit means a corpus-sized frame leaked
    // through one task.
    Seq("x_scale_zonemap_pruning" -> 2, "x_layout_hilbert" -> 1).foreach {
      case (n, budget) =>
        val p = planStr(n)
        val hits = "Exchange SinglePartition".r.findAllIn(p).size
        assert(hits <= budget,
          s"$n has $hits single-partition exchanges (bounded budget $budget):\n$p")
    }
  }

  test("x_sim_prefix_rerank: stage-1 top-k aggregate is partial (combines map-side)") {
    val p = planStr("x_sim_prefix_rerank")
    assert(p.contains("graft_topk_by"), s"bounded top-k aggregate missing:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"no aggregate under the candidate stage:\n$p")
  }

  test("x_sim_pq_adc / x_sim_pq_subspace: every codebook and LUT join is a broadcast hash join") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    val helper = new AdaptiveSparkPlanHelper {}
    Seq("x_sim_pq_adc", "x_sim_pq_subspace").foreach { n =>
      val df = Registry.queries(n)(spark, sf001)
      df.collect() // read the final adaptive plan
      val p = df.queryExecution.executedPlan
      val exchanges = helper.collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size
      val broadcasts = helper.collectWithSubqueries(p) { case e: BroadcastExchangeLike => e }.size
      info(s"$n: $exchanges exchanges, $broadcasts broadcasts")
      // encode (corpus ⋈ codebook), LUT (queries ⋈ codebook) and ADC
      // (codes ⋈ LUT): the bounded side builds, the corpus streams
      val joins = helper.collectWithSubqueries(p) { case j: BaseJoinExec => j }
      assert(joins.size == 3, s"$n: expected 3 joins, got ${joins.size}:\n$p")
      assert(joins.forall(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$n: a codebook or LUT join is not a broadcast hash join:\n$p")
    }
  }

  test("single-partition-window detector positive control") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
      .withColumn("rn", org.apache.spark.sql.functions.row_number()
        .over(Window.orderBy($"x")))
    assert(df.queryExecution.executedPlan.toString
      .contains("Exchange SinglePartition"),
      "the detector string no longer matches Spark's plan rendering")
  }
}
