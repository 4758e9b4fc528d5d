package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** Physical-plan regression tests: the 100 TB properties (column pruning,
  * predicate pushdown, broadcast choice, whole-stage codegen) asserted on
  * the actual executed plans so a refactor can't silently regress them.
  */
class PlanSpec extends SparkSpec {

  /** Bound on the executed `minhash_pairs` exchanges at this suite's
    * scale, counting a cached subplan once per scan that reads it. Today
    * it is 9: the output sort, the candidate distinct, the band self-join
    * broadcast, the verification set groupBy and its broadcast, and the
    * signature merge and band-cap window under each of the two scans of
    * the pinned band frame. One more is allowed for an AQE broadcast
    * choice; the shingle-explode pipeline it replaced ran 15.
    */
  private val MinhashPairsMaxExchanges = 10

  /** Bounds on the executed exchanges of the two `madOutliers` queries at
    * this suite's scale. `mad_outliers` runs 2: the group-key collect and
    * the output sort. `seasonal_esd_anomalies` runs 3: the decomposition's
    * daily counts and its trend window, whose type partitioning the
    * seasonal-means window and the outlier collect reuse, and the output
    * sort.
    */
  private val MadOutliersMaxExchanges = 2
  private val SeasonalEsdMaxExchanges = 3

  // ONE QueryExecution per declared query, shared by every suite-wide
  // sweep below — analysis + optimization of ~280 plans dominates this
  // suite's cost, and three sweeps each rebuilding them tripled it
  private lazy val allQe: Map[String, org.apache.spark.sql.execution.QueryExecution] =
    SparkEntry.queries.keys.map(n =>
      n -> SparkEntry.queries(n)(spark, sf).queryExecution).toMap

  private def planOf(name: String): String =
    allQe(name).executedPlan.toString

  /** Every executed node, descending into AQE stages and into the plans
    * of the cached relations the query reads.
    */
  private def executedNodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p match {
      case a: AdaptiveSparkPlanExec => executedNodes(a.executedPlan)
      case q: QueryStageExec => executedNodes(q.plan)
      case m: InMemoryTableScanExec => m +: executedNodes(m.relation.cachedPlan)
      case other => other +: other.children.flatMap(executedNodes)
    }
  }

  test("reindex_join: orders scan prunes to 2 columns and broadcasts the agg side") {
    val plan = planOf("reindex_join")
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    assert(plan.contains("ReadSchema: struct<o_custkey:bigint,o_totalprice:double>"),
      "orders scan should read only the join key + aggregated column")
  }

  test("vc_returnflag: scan prunes to the grouped column with pushed null filter") {
    val plan = planOf("vc_returnflag")
    assert(plan.contains("ReadSchema: struct<l_returnflag:string>"))
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag)]"))
  }

  test("q1_pricing_summary: shipdate pushed to the scan, one partial-agg pass") {
    val plan = planOf("q1_pricing_summary")
    // date cutoff reaches the parquet scan (row-group/page skipping)
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      plan.take(800))
    // map-side combine: partial aggregate below the exchange
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      plan.take(800))
    // only Q1's 7 columns are read
    assert(!plan.contains("l_partkey") && !plan.contains("l_suppkey"),
      "scan should prune unused lineitem columns")
  }

  test("diag_coo: row==col filter is pushed into the scan, not post-aggregation") {
    val plan = planOf("diag_coo")
    // the equality filter must appear before aggregation (scan-level Filter)
    assert(plan.contains("(l_suppkey") && plan.contains("= l_partkey"), plan.take(800))
    assert(plan.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint,l_quantity:double>")
      || plan.contains("ReadSchema: struct<l_suppkey:bigint,l_partkey:bigint,l_quantity:double>"))
  }

  test("aggregation queries run inside whole-stage codegen") {
    // AQE only shows codegen spans in the FINAL plan — execute first
    val df = SparkEntry.queries("weighted_avg")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Operator" in the final plan
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"), plan.take(800))
  }

  test("topk_orders: global sort+limit compiles to TakeOrderedAndProject (no full sort)") {
    val plan = planOf("topk_orders")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("no query plan contains a CartesianProduct") {
    SparkEntry.queries.keys.foreach { name =>
      val plan = allQe(name).executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("no declared query runs a partition-less window (tiny-aggregate smoothing excepted)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def collectBad(p: SparkPlan): Seq[String] = {
      val kids = p.children ++ (p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => Nil
      })
      // a partition-less window whose input subtree is bounded by a
      // LIMIT (TakeOrderedAndProject / CollectLimit / GlobalLimit) sees
      // <= k rows at ANY corpus scale — the rank-attach idiom of the
      // top-k family, not a scale hazard
      def boundedBelow(q: SparkPlan): Boolean = q match {
        case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
        case _: org.apache.spark.sql.execution.CollectLimitExec => true
        case _: org.apache.spark.sql.execution.GlobalLimitExec => true
        case a: AdaptiveSparkPlanExec => boundedBelow(a.executedPlan)
        case other =>
          other.children.nonEmpty && other.children.forall(boundedBelow)
      }
      (p match {
        case w: WindowExec if w.partitionSpec.isEmpty && !boundedBelow(w.child) =>
          Seq(w.simpleStringWithNodeId())
        case _ => Nil
      }) ++ kids.flatMap(collectBad)
    }
    // smooth_gaussian smooths a per-DAY aggregate (~30 rows at any SF —
    // the shuffle shrank the data first); vocab_growth's cumulative
    // window rides its groupBy("bucket") aggregate (<= `buckets` rows
    // by construction). Both are the documented tiny-aggregate shape,
    // not scale hazards
    // rolling_revenue_7d's RANGE frame rides the per-DAY aggregate
    // (<= |distinct days| rows at any SF — same class as smoothing)
    // quantiles_binned_chars' cumulative window rides the FIXED 256-bin
    // histogram (bounded by the grid, not the data)
    // token_budget_select's offset window rides the FIXED 256-bucket
    // md5-prefix aggregate (same grid-bounded class); the per-row sums
    // window WITHIN buckets
    // mann_whitney_value's cumulative window rides the value-CELL
    // aggregate — bounded by the 2-decimal measurement grid (<= 20001
    // cells), not the row count
    // ks_value_click_error / kruskal_value_types ride the same value
    // cells; spearman_qty_price the two MARGINAL grids (50 quantities /
    // price cents); gini_customer_spend the spend-cell table;
    // classifier_auc the round(6) score grid — all grid-bounded, the
    // mann_whitney class
    // theil_sen_daily's median window rides the |days|^2 pair table of
    // a count-validated grid (theilSen requires <= maxGrid rows before
    // the broadcast pair stage)
    // pareto_parts' sweep window rides the count-validated distinct-
    // price grid (skyline2d requires <= maxGrid levels — domain-bounded
    // catalog prices, never row cardinality)
    // rolling_corr_7d's RANGE frame rides the per-DAY aggregate — the
    // rolling_revenue_7d class
    // lift_gain_deciles' windows ride the round(6) score×label CELL
    // aggregate (the classifier_auc class) and the 10-row decile frame
    // — NTILE geometry is replayed over cell spans, never a row sort
    // log_rank_purchase's prefix-sum window rides the OBSERVATION-
    // WINDOW time-grid bucket aggregate (the kaplan_meier grid class)
    // conformal_intervals' cumulative window rides the round(6)
    // nonconformity CELL aggregate — bounded by the 2-decimal value
    // grid (the mann_whitney class), never row cardinality
    // conditional_power's cumulative window rides the K-row LOOK GRID
    // (spark.range(1, K+1) — K=5 rows by construction, the smallest
    // bounded frame in the suite; the sibling monitors use the
    // collect_list fold for their stop-at-crossing semantics, which CP
    // doesn't have); ssr_cp is the same grid window with the
    // promising-zone arithmetic layered on the same K rows
    // tdigest_value came OFF this list in r12: the two-phase range
    // rank replaced its global-order cell window with a partitioned
    // one + an O(#partitions) offset collect
    val allow = Set("smooth_gaussian", "vocab_growth", "rolling_revenue_7d",
      "quantiles_binned_chars", "token_budget_select", "mann_whitney_value",
      "ks_value_click_error", "kruskal_value_types", "spearman_qty_price",
      "gini_customer_spend", "classifier_auc", "theil_sen_daily",
      "pareto_parts", "rolling_corr_7d", "lift_gain_deciles",
      "log_rank_purchase", "conformal_intervals", "conditional_power",
      "ssr_cp")
    (SparkEntry.queries.keySet -- allow).toSeq.sorted.foreach { name =>
      val plan = allQe(name).executedPlan
      val bad = collectBad(plan)
      assert(bad.isEmpty,
        s"$name funnels data through a partition-less window: ${bad.headOption.getOrElse("")}")
    }
  }

  test("upsert_pruned_orders: partition semi/anti joins broadcast; the key anti-join is partition-scoped") {
    val plan = planOf("upsert_pruned_orders")
    // the distinct update-partition set is tiny and broadcast: untouched
    // years stream through a broadcast LeftAnti (no key shuffle), the
    // touched-year scan is a broadcast LeftSemi — over partitioned
    // storage this is the dynamic-partition-pruning shape that skips
    // untouched files before the wide-key anti-join
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(800))
    assert(plan.contains("LeftSemi"), plan.take(800))
    assert(!plan.contains("CartesianProduct"))
  }

  test("asof_join_events: the as-of lookup compiles join-free (union + keyed window)") {
    val plan = SparkEntry.queries("asof_join_events")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of query grew a join:\n${plan.take(2000)}")
    assert(plan.contains("Window"))
  }

  test("range_join_events: containment join is an equi-join on (bucket, key)") {
    val plan = SparkEntry.queries("range_join_events")(spark, sf)
      .queryExecution.executedPlan.toString
    // the equi keys are (_b, user_id); containment survives as a residual
    // filter on the SAME join node — never a BNLJ/cartesian
    assert(plan.contains("Join [_b#") || plan.contains("Join [_b,") ||
      """Join \[_b""".r.findFirstIn(plan).isDefined, s"no bucket equi-join:\n${plan.take(2000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("split_overlap: the segmenting window is partitioned, never global") {
    val plan = planOf("split_overlap")
    // a bare Window.orderBy prints "Window [...], [order]" with no
    // partition spec and funnels everything into one partition; the
    // per-user form must hash-partition on user_id before the window
    assert(plan.contains("hashpartitioning(user_id"), plan.take(1200))
  }

  test("sample_weighted_replace: range probe is bucket-local, BNLJ only vs 256-row table") {
    val plan = planOf("sample_weighted_replace")
    // the only nested-loop join is draws x broadcast bucket-interval table
    val bnlj = plan.split("BroadcastNestedLoopJoin").length - 1
    assert(bnlj <= 1, s"expected at most one (broadcast, <=256-row) BNLJ, plan:\n${plan.take(1200)}")
    assert(plan.contains("BroadcastHashJoin"), "row probe must be the bucket equi-join")
  }

  test("decontaminate_docs: bloom prefilter sits map-side before any corpus shuffle") {
    val df = SparkEntry.queries("decontaminate_docs")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the native might-contain expression must be present (the corpus
    // prefilter), and the corpus scan must prune to the two used columns
    assert(plan.toLowerCase.contains("mightcontain"), plan.take(1500))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  // an executed AdaptiveSparkPlan prints BOTH the final and the initial
  // plan — operator counts over the raw string double-count
  private def finalPlanOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head

  test("ann_pq_adc_topk: corpus side is scan+project only — one exchange, for the top-k window") {
    val df = SparkEntry.queries("ann_pq_adc_topk")(spark, sf)
    df.collect()
    val plan = finalPlanOf(df)
    // codes are computed in a projection over the scan and scored against
    // a BROADCAST table — the only hash exchange is the per-query top-k
    val exchanges = plan.split("Exchange hashpartitioning").length - 1
    assert(exchanges <= 1, s"PQ-ADC should shuffle only for the top-k window, got $exchanges:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "query tables must broadcast against the codes scan")
  }

  test("ann_ivf_pq_topk: candidate generation is a cid equi-join, never all-pairs") {
    val df = SparkEntry.queries("ann_ivf_pq_topk")(spark, sf)
    df.collect()
    val plan = finalPlanOf(df)
    // the probed-cells x assigned-corpus join must be an equi-join on the
    // cell id; the only BNLJs are vs the broadcast 8-row centroid table
    assert(plan.contains("cid"), plan.take(1500))
    val bnlj = plan.split("BroadcastNestedLoopJoin").length - 1
    assert(bnlj <= 2, s"expected only the two centroid-assignment BNLJs, got $bnlj")
  }

  test("sample_at_most: md5 top-n compiles to TakeOrderedAndProject (no full sort)") {
    val plan = planOf("sample_at_most")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("embedding_near_dup: LSH candidate join is an equi-join on (table, bucket)") {
    val plan = planOf("embedding_near_dup")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "all-pairs BNLJ must not ship in the declared near-dup query")
  }

  test("minhash_against_stream: ingest hot path is expression-only (no scalar UDF)") {
    // the per-row signature stage must stay inside whole-stage codegen:
    // a scalar UDF on the ingest path costs per-row serialization and
    // blocks codegen for the hottest streaming stage (the embedding twin
    // is expression-only by construction — hold the text twin to it too)
    for (name <- Seq("minhash_against_stream", "minhash_against", "embedding_against")) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("UDF"), s"$name plan contains a scalar UDF:\n${plan.take(1200)}")
    }
  }

  test("pq_code_dups: map-side encode, one exchange for the code groupBy, no joins") {
    val df = SparkEntry.queries("pq_code_dups")(spark, sf)
    df.collect()
    val plan = finalPlanOf(df)
    assert(!plan.contains("Join"), s"code grouping needs no join:\n${plan.take(1200)}")
    val exchanges = plan.split("Exchange hashpartitioning").length - 1
    assert(exchanges <= 1, s"expected only the groupBy exchange, got $exchanges")
  }

  test("dsir_sample: Gumbel top-k compiles to TakeOrderedAndProject (no global sort)") {
    val plan = planOf("dsir_sample")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("dsir_weights: the bucket-table join broadcasts at runtime (AQE, no hint)") {
    val df = SparkEntry.queries("dsir_weights")(spark, sf)
    df.collect()
    val plan = finalPlanOf(df)
    // the <=256-row log-ratio table must come back as a broadcast join
    // picked by AQE — a sort-merge join here would shuffle the full
    // feature stream against a fixed-size side
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("winnow queries: gram explode scans only (doc_id, text)") {
    val plan = planOf("winnow_fingerprints")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      plan.take(800))
  }

  test("bm25_topk: global top-k compiles to TakeOrderedAndProject; scan prunes to (doc_id, text)") {
    val plan = planOf("bm25_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan.take(800))
  }

  test("pq_subcode_pairs: candidates from a (slot, key) equi-join; vectors re-joined AFTER the bare-id distinct") {
    val plan = planOf("pq_subcode_pairs")
    // the self-join on masked keys must be a hash/merge equi-join
    assert(plan.contains("slot") && plan.contains("key"), plan.take(800))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(800))
  }

  test("q5_nation_revenue: date/region filters pushed to scans; dims broadcast") {
    val df = SparkEntry.queries("q5_nation_revenue")(spark, sf)
    df.collect() // let AQE finalize
    val plan = df.queryExecution.executedPlan.toString
    // region filter and the orders date range reach the parquet scans
    assert(plan.contains("PushedFilters") &&
      plan.matches("(?s).*PushedFilters: \\[[^\\]]*r_name[^\\]]*\\].*"),
      "region name filter not pushed to the region scan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderdate[^\\]]*\\].*"),
      "order date range not pushed to the orders scan")
    // the five dimension joins broadcast (no hints — planner/AQE choice)
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(nBroadcast >= 4, s"expected >=4 broadcast joins, got $nBroadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("novelty_docs: per-doc gram dedup is map-side (array_distinct), not a distinct shuffle") {
    val df = SparkEntry.queries("novelty_docs")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("array_distinct"), plan.take(1200))
    // exactly the gram-df groupBy, the gram join, and the per-doc
    // roll-up shuffle — a distinct would add a fourth exchange
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 4, s"expected <=4 hash exchanges, got $exchanges\n" + plan.take(1500))
  }

  test("q19_disjunctive_revenue: envelopes pushed to both scans, part side broadcasts") {
    val df = SparkEntry.queries("q19_disjunctive_revenue")(spark, sf)
    df.collect() // let AQE finalize
    val plan = df.queryExecution.executedPlan.toString
    // the single-side envelopes of the cross-side OR reach the scans
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*l_quantity[^\\]]*\\].*"),
      "l_quantity envelope not pushed to the lineitem scan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*p_brand[^\\]]*\\].*"),
      "brand IN-list envelope not pushed to the part scan")
    // the brand-filtered part sliver broadcasts
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q10/q18: top-k compiles to TakeOrderedAndProject, never a global sort") {
    Seq("q10_returned_items", "q18_large_orders").foreach { name =>
      val plan = planOf(name)
      assert(plan.contains("TakeOrderedAndProject"), s"$name: ${plan.take(500)}")
    }
  }

  test("q4_order_priority: EXISTS compiles to a left-semi join") {
    val plan = planOf("q4_order_priority")
    assert(plan.contains("LeftSemi"), plan.take(800))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q6_forecast_revenue: all three predicates reach the scan, zero joins") {
    // read the scan's PushedFilters METADATA, not the plan string —
    // toString truncates long filter lists and hides later columns
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scansOf)
    }
    val df = SparkEntry.queries("q6_forecast_revenue")(spark, sf)
    val pushed = scansOf(df.queryExecution.executedPlan)
      .map(_.metadata.getOrElse("PushedFilters", "")).mkString
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      assert(pushed.contains(c), s"$c not in PushedFilters: $pushed")
    }
    assert(!df.queryExecution.executedPlan.toString.contains("Join"),
      "Q6 must be a single-scan aggregate")
  }

  test("minhash_pairs: per-document signature kernel, no sort aggregate, bounded exchanges") {
    import org.apache.spark.sql.catalyst.expressions.Md5
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import graft.functions.TextFunctions.Md5SliceMins
    spark.catalog.clearCache()
    val df = SparkEntry.queries("minhash_pairs")(spark, sf)
    df.collect()
    val nodes = executedNodes(df.queryExecution.executedPlan)
    def uses(pred: org.apache.spark.sql.catalyst.expressions.Expression => Boolean) =
      nodes.exists(_.expressions.exists(_.find(pred).isDefined))
    val tree = nodes.map(_.nodeName).mkString(", ")
    assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]), tree)
    assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]), tree)
    assert(uses(_.isInstanceOf[Md5SliceMins]), "signatures come from the per-document kernel")
    assert(!uses(_.isInstanceOf[Md5]), "no md5 projection over exploded shingles")
    val exchanges = nodes.count(_.isInstanceOf[Exchange])
    assert(exchanges <= MinhashPairsMaxExchanges, s"$exchanges exchanges: $tree")
    spark.catalog.clearCache()
  }

  test("madOutliers queries: one grouped pass, no rank window, pin or nested-loop join") {
    import org.apache.spark.sql.catalyst.expressions.RowNumber
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    for ((name, maxExchanges) <- Seq("mad_outliers" -> MadOutliersMaxExchanges,
        "seasonal_esd_anomalies" -> SeasonalEsdMaxExchanges)) {
      spark.catalog.clearCache()
      val pinned = spark.sparkContext.getPersistentRDDs.keySet
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val nodes = executedNodes(df.queryExecution.executedPlan)
      val tree = nodes.map(_.nodeName).mkString(", ")
      assert(spark.sparkContext.getPersistentRDDs.keySet == pinned, s"$name pins a frame")
      assert(!nodes.exists(_.isInstanceOf[InMemoryTableScanExec]), s"$name: $tree")
      assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]), s"$name: $tree")
      // ESD keeps only the decomposition's trend and seasonal-means windows
      assert(!nodes.exists(_.expressions.exists(_.find(_.isInstanceOf[RowNumber]).isDefined)),
        s"$name ranks with a window: $tree")
      if (name == "mad_outliers") {
        assert(!nodes.exists(_.isInstanceOf[WindowExec]), tree)
        assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]), tree)
      }
      val exchanges = nodes.count(_.isInstanceOf[Exchange])
      assert(exchanges <= maxExchanges, s"$name: $exchanges exchanges: $tree")
    }
  }

  test("no broadcast hint wraps an unbounded grouped aggregate") {
    // a broadcast() hint is a promise the side stays driver-sized at any
    // corpus scale. A global aggregate (1 row), a LIMIT, or a literal
    // local relation keeps that promise; an Aggregate with non-empty
    // grouping keys over corpus data does NOT — its cardinality grows
    // with the data (e.g. a unigram vocabulary), so the hint becomes an
    // OOM at 100 TB. Sweep every declared query's analyzed plan.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalRelation, LogicalPlan, OneRowRelation, ResolvedHint}
    // a relation is BOUNDED (cardinality independent of corpus size) if
    // every path to a leaf crosses a limit, a global aggregate, or a
    // literal local relation — a grouped aggregate over a bounded input is
    // itself bounded (<= input rows), so it must not trip the sweep
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit => true
      case _: LocalRelation => true
      case _: OneRowRelation => true
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      case other => other.children.nonEmpty && other.children.forall(bounded)
    }
    def unboundedGroupedAgg(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit => false // a limit above bounds everything below
      case a: Aggregate if a.groupingExpressions.isEmpty => false // 1-row global agg
      case a: Aggregate => !bounded(a.child)
      case other => other.children.exists(unboundedGroupedAgg)
    }
    SparkEntry.queries.keys.foreach { name =>
      val analyzed = allQe(name).analyzed
      analyzed.foreach {
        case h: ResolvedHint if h.hints.strategy.nonEmpty =>
          assert(!unboundedGroupedAgg(h.child),
            s"$name: broadcast hint wraps a grouped (data-sized) aggregate — " +
              "remove the hint and let AQE decide at runtime")
        case _ =>
      }
    }
  }

  test("log-rank queries read their tables only in the observation pass, with one window") {
    // per table, one scan for the per-subject aggregate and one for the
    // observation end; the stratum sizes come from the same bucket frame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    for ((name, scans) <- Seq("log_rank_purchase" -> 2, "log_rank_stratified" -> 4)) {
      val nodes = executedNodes(allQe(name).executedPlan)
      val tree = nodes.map(_.nodeName).mkString(", ")
      assert(nodes.count(_.isInstanceOf[FileSourceScanExec]) == scans, s"$name: $tree")
      assert(nodes.count(_.isInstanceOf[WindowExec]) == 1, s"$name: $tree")
    }
  }

  test("sprt_daily: the per-day user counts plan no Expand") {
    // two count_distinct aggregates plan an Expand whose order flips
    // between constructs; one (day, user) grouping needs none, and the
    // contingency category counts come from the margins
    import org.apache.spark.sql.execution.ExpandExec
    for (name <- Seq("sprt_daily", "contingency_events", "feature_mi_rank")) {
      val nodes = executedNodes(allQe(name).executedPlan)
      assert(!nodes.exists(_.isInstanceOf[ExpandExec]),
        s"$name: ${nodes.map(_.nodeName).mkString(", ")}")
    }
  }

  /** The cached relations an executed plan reads, one per distinct cache. */
  private def cachesRead(p: SparkPlan) = {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    executedNodes(p).collect { case m: InMemoryTableScanExec => m.relation.cacheBuilder }
      .distinct
  }

  test("bm25_prf_topk: both BM25 rounds read ONE pinned tokenized corpus") {
    // round 2 builds its corpus frame plan-equal to round 1's, so the
    // cache manager hands it round 1's pin instead of a second one
    val df = SparkEntry.queries("bm25_prf_topk")(spark, sf)
    df.collect()
    assert(cachesRead(df.queryExecution.executedPlan).size == 1)
  }

  test("dup-graph queries: a second query reads the pair frame the first one cached") {
    spark.catalog.clearCache()
    def pairPin(name: String) = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val pins = cachesRead(df.queryExecution.executedPlan)
        .filter(_.cachedPlan.output.map(_.name).contains("jaccard"))
      assert(pins.size == 1, name)
      pins.head
    }
    val first = pairPin("dup_triangles")
    assert(first.isCachedColumnBuffersLoaded, "dup_triangles did not fill the pair frame")
    assert(pairPin("dup_clustering_coef") eq first)
  }

  test("a second construct of each graftbench query starts no Spark job") {
    // every table read after the first passes its remembered schema, so
    // no parquet footer job comes back on a later construct
    Seq("minhash_pairs", "blocking_quality", "fellegi_sunter_weights",
      "dedup_exact_docs", "q3_shipping_priority", "pivot_status",
      "sessions_user", "topk_stream", "mad_outliers").foreach { name =>
      SparkEntry.queries(name)(spark, sf)
      assert(jobsStartedBy(SparkEntry.queries(name)(spark, sf)) == 0, name)
    }
  }
}
