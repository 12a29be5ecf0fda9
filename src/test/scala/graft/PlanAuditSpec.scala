package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scale-guard plan audit: assert the physical-plan properties that keep
  * each query viable at 100 TB, so a refactor that silently degrades a
  * plan (lost pushdown, surprise cartesian, dropped broadcast) fails CI
  * rather than a production run.
  *
  * Only plans (queryExecution.executedPlan) are asserted on; the audited
  * queries are not themselves executed. Building the plans does run a few
  * setup side effects, though: join_bucketed writes its bucketed tables on
  * first use, the ANN keys collect their centroid/hyperplane literals,
  * dq_expectations runs its observed pass, and q15/join_fuzzy_blocked's
  * localCheckpoint barriers materialize their (dim-sized) inputs at
  * construction when AQE wraps them. The plan sweep (last test) audits
  * the runtime view instead, staging on, so it also builds any staged
  * artifact that is missing.
  * Streaming keys are excluded: invoking one RUNS the stream (AvailableNow
  * drain) and the returned batch result's plan is just the memory-sink scan.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  private val streamingKeys =
    graft.streaming.Streams.drainKeys ++ graft.ops.Pipeline.loopKeys
  // These intentionally build cross/nested-loop products: the cross-join
  // key itself, the theta/interval joins, and every embedding op that
  // broadcasts a small probe/centroid set against the corpus.
  private val crossOk = Set("join_cross", "join_theta_range", "join_interval",
    "embed_ann_matryoshka",           // broadcast probes, prefix then re-rank
    "embed_cosine_topk", "embed_knn_label", "embed_neardup", "embed_ann_ivf",
    "embed_ann_pq",        // broadcast probe LUTs vs corpus codes
    "embed_ann_ivfpq",     // broadcast probe LUTs + cell routing vs code table
    "text_tfidf", "text_unigram_nll", // nll: 1-row broadcast total, like tfidf
    "text_ppl_buckets",               // same 1-row total via shared unigramNll
    "text_bm25",                      // 1-row broadcast (n, avgdl) stats
    "text_rrf_fusion",                // same bm25 stats + 1-row broadcast n
    "dedup_incremental",              // 1-row broadcast max(doc_id) boundary
    "pipeline_incremental_clean_pack", // same boundary broadcast, composed
    "embed_ann_incremental",          // 1-row broadcast max(vec_id) boundary
    "embed_ann_sq8",                  // broadcast probes vs decoded corpus
    "embed_ann_recall_audit",         // exact side = embed_cosine_topk's
                                      // broadcast probe set vs corpus
    "embed_ann_recall_lsh",           // same exact-side broadcast scan
    "embed_ann_recall_nsw",           // same, over the held-out corpus
    "embed_ann_recall_pq",            // same, exact-L2 reference scan
    "dedup_semantic",                 // broadcast √N centroid set vs corpus (assignCells)
    "dedup_semantic_mp",              // same broadcast centroid set, two argmin passes
    "dedup_semantic_2l",              // broadcast N^¼ coarse seeds, then bucket-joined fine
    "q22_dormant_value",              // 1-row broadcast (cnt,sum) avg threshold
    "q15_top_supplier",               // 1-row broadcast max-revenue threshold
    "q11_important_stock",            // 1-row broadcast (total, count) threshold
    "graph_knn_triangles",            // 1-row stat joins; staging-off exposes
                                      // the cell-bounded build's broadcast
                                      // √N centroid set (assignCells class)
    "embed_ann_nsw",                  // 10 probes × broadcast 32-row entry set;
                                      // staging-off exposes the mp inverted
                                      // file's broadcast centroid set (the
                                      // dedup_semantic_mp class — the r17
                                      // cell-bounded build, no corpus×corpus)
    "dq_freshness",                   // 1-row broadcast corpus watermark
    "agg_hll_intersect",              // |types|² sketch pairs (≤25 rows)
    "dq_benford",                     // 1-row broadcast total + chi2
    "agg_basket_pairs",               // 1-row broadcast order total onto
                                      // the 20 top-k survivors
    "agg_survival_km",                // 1-row broadcast risk-set total
    "text_collocations",              // 1-row broadcast Nu/Nb token totals
    "sample_temperature",             // 1-row broadcast min-lang count
    "embed_mips_ivf",                 // 1-row broadcast M² + broadcast probe
                                      // set; staging-off shows the augmented
                                      // assignment's broadcast centroids
                                      // (same class as embed_ann_ivf)
    "embed_normalize",                // 1-row broadcast per-dim mean array
    "embed_top_eigen")                // 1-row broadcast norm (same idiom)

  /** Typed plan traversal under AQE: AdaptiveSparkPlanExec is a LEAF
    * node to TreeNode.collect (its real tree hangs off currentPhysicalPlan,
    * not children), so a typed `plan.collect` on the wrapped root silently
    * matches nothing — unwrap before collecting. String assertions are
    * unaffected (toString prints through the wrapper). */
  private def unwrapAqe(p: org.apache.spark.sql.execution.SparkPlan)
      : org.apache.spark.sql.execution.SparkPlan = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a.executedPlan
    case other => other
  }

  private lazy val plans: Map[String, String] = {
    // bypass staging so the audited plans contain the real computation
    // subtrees (not staged-file scans) and plan-building runs no jobs
    // beyond the documented bucketed/centroid setup.
    sys.props("graft.staging") = "false"
    try (SparkEntry.queries.keySet -- streamingKeys).map { k =>
      k -> SparkEntry.queries(k)(spark, sf).queryExecution.executedPlan.toString
    }.toMap
    finally sys.props.remove("graft.staging")
  }

  test("no query falls back to an unbounded CartesianProduct") {
    val offenders = plans.collect {
      case (k, p) if p.contains("CartesianProduct") && !crossOk(k) => k
    }
    assert(offenders.isEmpty, s"unexpected cartesian in: $offenders")
  }

  test("broadcast-nested-loop only where the build side is provably small") {
    val offenders = plans.collect {
      case (k, p) if p.contains("BroadcastNestedLoopJoin") && !crossOk(k) => k
    }
    assert(offenders.isEmpty, s"unexpected BNLJ in: $offenders")
  }

  test("pinned join algorithms survive planning") {
    assert(plans("join_broadcast").contains("BroadcastHashJoin"))
    assert(plans("join_shuffle_hash").contains("ShuffledHashJoin"))
    assert(plans("join_sort_merge").contains("SortMergeJoin"))
    // NOT IN must plan the NULL-AWARE anti join (the trailing `true` is
    // isNullAwareAntiJoin) — a plain anti join would be wrong the day
    // the inner side actually produces a NULL.
    assert("LeftAnti, BuildRight, true".r
      .findFirstIn(plans("join_null_anti")).isDefined,
      "NOT IN did not plan a null-aware anti join")
    // EXISTS / NOT EXISTS over a fact build (Joins.existenceJoin) must
    // shuffle-hash, which keeps each build key once, and never broadcast
    // every orders / lineitem row. None of these plans has another hash
    // join (q22's threshold is a nested-loop cross join).
    for ((k, jt) <- Seq("join_left_anti" -> "LeftAnti",
        "join_left_semi" -> "LeftSemi", "q4_order_priority" -> "LeftSemi",
        "q22_dormant_value" -> "LeftAnti")) {
      assert(("ShuffledHashJoin \\[[^\\]]*\\], \\[[^\\]]*\\], " +
        s"$jt, BuildRight").r.findFirstIn(plans(k)).isDefined,
        s"$k existence join is not a shuffled hash join")
      assert(!plans(k).contains("BroadcastHashJoin"),
        s"$k broadcasts its fact build")
    }
    // The LATERAL correlated LIMIT must decorrelate into a partitioned
    // rank with the group-limit pushed map-side (WindowGroupLimit
    // Partial before the shuffle) — a per-outer-row rescan of the inner
    // table would be quadratic at scale.
    assert(plans("join_lateral").contains("WindowGroupLimit"),
      "LATERAL top-k did not decorrelate to a window group limit")
    assert(plans("join_skew_salted").contains("BroadcastHashJoin") ||
      plans("join_skew_salted").contains("SortMergeJoin") ||
      plans("join_skew_salted").contains("ShuffledHashJoin"))
  }

  test("predicate pushdown reaches the parquet scan") {
    // Non-trivial (beyond IsNotNull) filters must appear in PushedFilters.
    for (k <- Seq("scan_pushdown", "filter_compound", "embed_neardup"))
      assert(plans(k).matches("(?s).*PushedFilters: \\[[^\\]]*(GreaterThan|LessThan|EqualTo|In\\().*"),
        s"$k scan has no pushed comparison filter")
  }

  test("column pruning: projection-only queries do not read full rows") {
    // lineitem has 16 columns; the pricing summary needs 7.
    val read = "ReadSchema: [^\\n]*".r
      .findFirstIn(plans("agg_pricing_summary")).getOrElse("")
    assert(read.split(",").length <= 8, s"scan too wide: $read")
    // fn_hash projects three digests of one column: the documents scan
    // must read exactly (doc_id, text), not the 5-column row.
    val hr = "ReadSchema: [^\\n]*".r
      .findFirstIn(plans("fn_hash")).getOrElse("")
    assert(hr.contains("doc_id") && hr.contains("text") &&
      hr.split(",").length <= 2, s"fn_hash scan too wide: $hr")
  }

  test("aggregations are two-phase (map-side partial before the shuffle)") {
    // text_dup_spans: the gram-df count must partial-aggregate map-side —
    // at 100 TB the gram relation is the corpus-dominant term and a
    // single-phase count would shuffle every gram instance.
    for (k <- Seq("agg_pricing_summary", "text_stats", "join_broadcast",
                  "text_dup_spans")) {
      val p = plans(k)
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"$k is not a partial+final aggregate")
    }
  }

  test("global top-k uses TakeOrderedAndProject, not a full sort") {
    assert(plans("limit_global").contains("TakeOrderedAndProject"))
    // q3's top-10 must be the same top-k operator over the aggregate —
    // a global Sort + Limit would materialize every group ordered.
    assert(plans("q3_shipping_priority").contains("TakeOrderedAndProject"))
  }

  test("r13 composites: broadcast dims, top-k operator, semi-reduction first") {
    // q7: both nation-filtered dim joins (supplier, customer) broadcast —
    // the fact side must never shuffle for a dimension.
    assert("BroadcastHashJoin".r.findAllIn(plans("q7_volume_shipping"))
      .length >= 2, "q7 dims are not broadcast")
    // q10/q18: the final top-k is TakeOrderedAndProject (global Sort +
    // Limit would materialize every group/order ordered).
    assert(plans("q10_returned_items").contains("TakeOrderedAndProject"))
    assert(plans("q18_large_orders").contains("TakeOrderedAndProject"))
    // q18: the qualifying-order reduction aggregates lineitem BEFORE any
    // join — the plan must contain a partial+final agg on the lineitem
    // subtree (2 HashAggregates) and no aggregate after the joins.
    assert("HashAggregate".r.findAllIn(plans("q18_large_orders")).length >= 2,
      "q18 HAVING pre-aggregate is not partial+final")
    // q4: the EXISTS must stay a semi join (an inner join would duplicate
    // orders per returned lineitem and corrupt the counts at any scale).
    assert(plans("q4_order_priority").contains("LeftSemi"),
      "q4 EXISTS is not a left-semi join")
    // q6: pure-scan query — a join anywhere means a planner regression;
    // both pushable predicates must reach the parquet scan.
    val q6 = plans("q6_forecast_revenue")
    assert(!q6.contains("Join"), "q6 must be join-free")
    assert(q6.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "q6 lost its scan pushdown")
    // q13: two aggregation levels (per-customer partial+final, then the
    // histogram partial+final) — 4 HashAggregates.
    assert("HashAggregate".r.findAllIn(plans("q13_order_distribution"))
      .length >= 4, "q13 lost an aggregation level")
    // q17/q19/q21: the filtered dimension (part keys / supplier×nation)
    // must broadcast — the fact side never shuffles for a dimension.
    for (k <- Seq("q17_small_qty_revenue", "q19_disjunctive_revenue",
        "q21_waiting_supplier"))
      assert(plans(k).contains("BroadcastHashJoin"), s"$k dim not broadcast")
    // q21: the sole-returning-supplier logic is aggregates joined on the
    // SAME l_orderkey key, never a lineitem row×row self-join; the R-pair
    // distinct and the per-order rollup each need partial+final.
    assert("HashAggregate".r.findAllIn(plans("q21_waiting_supplier"))
      .length >= 4, "q21 per-order reduction lost its two-phase aggs")
    // q22: dormancy is an anti join against the date-pruned orders scan.
    assert(plans("q22_dormant_value").contains("LeftAnti"),
      "q22 dormancy is not a left-anti join")
    // fn_edit_distance: pair mass comes from ONE window shuffle — any
    // join in this plan means the fuzzy match degenerated to a product.
    val fed = plans("fn_edit_distance")
    assert(!fed.contains("Join"), "fn_edit_distance must be join-free")
    assert(fed.contains("Window"), "fn_edit_distance lost its lag window")
  }

  test("r19 TPC-H shapes: decorrelation, semi chains, anti composition") {
    // q2: the correlated scalar min-subquery MUST decorrelate into one
    // aggregate joined back on the correlation key — a surviving
    // scalar-subquery expression means Catalyst re-runs the inner query
    // per outer row (quadratic at scale). The rewritten form is the
    // min-aggregate leg (partial+final) joined to the outer supply leg.
    val q2 = plans("q2_min_cost_supplier")
    // assert on the CORRELATED markers only (r19 ADVICE): a bare
    // "Subquery" match would also reject benign future nodes like
    // SubqueryBroadcast (DPP) / ReusedSubquery that coexist with a
    // fully decorrelated plan
    assert(!q2.contains("scalar-subquery") &&
        !q2.contains("CorrelatedScalarSubquery"),
      "q2 correlated min subquery did not decorrelate")
    assert("HashAggregate".r.findAllIn(q2).length >= 4,
      "q2 lost a two-phase aggregate leg (outer supply / min-per-part)")
    // q20: BOTH set-membership predicates must stay semi joins — an
    // inner join would duplicate suppliers per qualifying part and the
    // duplicates survive into the output at any scale.
    assert("LeftSemi".r.findAllIn(plans("q20_nested_semi")).length >= 2,
      "q20 nested IN chain is not two semi joins")
    // q16: the NOT IN exclusion stays an anti join with the
    // dimension-sized blacklist broadcast as its build side.
    val q16 = plans("q16_not_in_distinct")
    assert(q16.contains("LeftAnti"), "q16 NOT IN is not an anti join")
    assert(q16.contains("BroadcastHashJoin"),
      "q16 supplier blacklist not broadcast")
    // q9: name-filtered part and supplier→nation broadcast — the fact
    // side shuffles only for the orders key join.
    assert("BroadcastHashJoin".r.findAllIn(plans("q9_profit_rollup"))
      .length >= 2, "q9 dims are not broadcast")
    // q11: the shared per-part aggregate is partial+final, and the
    // threshold rides a 1-row broadcast (never a whole-relation window).
    val q11 = plans("q11_important_stock")
    assert("HashAggregate".r.findAllIn(q11).length >= 2,
      "q11 per-part value aggregate is not two-phase")
    assert(q11.contains("BroadcastNestedLoopJoin") ||
      q11.contains("BroadcastHashJoin"),
      "q11 scalar threshold is not broadcast")
  }

  test("runtime bloom filter reduces the fact side of selective shuffle joins") {
    // The 100 TB regime for q5: dims exceed the broadcast threshold, so
    // the fact joins shuffle — the remaining defense against shuffling
    // unmatched lineitem rows is InjectRuntimeFilter's bloom semi-join
    // reduction (on by default in this Spark). Thresholds are scaled to
    // bench SF (application side must look "large", creation side has a
    // selective filter); the assertion is that the injection fires on
    // the fact scan side under our session defaults.
    Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB")
      .foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val p = SparkEntry.queries("q5_local_supplier")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        "no runtime bloom filter injected — every unmatched fact row " +
          "would cross the shuffle at 100 TB")
    } finally Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      .foreach(spark.conf.unset)
  }

  test("stats_cbo_broadcast: CBO reorders the hint-free join iff stats exist") {
    import org.apache.spark.sql.functions.{col, lit, sum}
    // The declared key writes the join WORST-first (fact ⋈ fact, selective
    // dim last); with ANALYZE stats + CBO the optimizer must rewrite it
    // selective-first. Leaf order in the optimized plan is the witness:
    // depth-first leaves start at the bottom-left join input.
    val on = SparkEntry.queries("stats_cbo_broadcast")(spark, sf)
      .queryExecution.optimizedPlan.collectLeaves().map(_.toString)
    assert(on.head.contains("_orders") && on(1).contains("_customer"),
      s"CBO did not reorder selective-first; leaves: ${on.map(_.take(60))}")
    // Control 1 — same session (CBO on), same shape, but RAW parquet reads
    // (no catalog stats): CostBasedJoinReorder must skip, leaving the
    // written fact-first order. Proves the stats, not the conf, flip it.
    val cbo = Scoped.session(spark, "cbo", Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.cbo.planStats.enabled" -> "true"))
    def shape(s: org.apache.spark.sql.SparkSession,
              t: String => org.apache.spark.sql.DataFrame) =
      t("lineitem").join(t("orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t("customer").where(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
    val noStats = shape(cbo, Tables.table(cbo, sf, _))
      .queryExecution.optimizedPlan.collectLeaves().map(_.toString)
    // path-based parquet leaves print no table name — match the columns
    assert(noStats.head.contains("l_orderkey"),
      s"reorder fired without stats?; leaves: ${noStats.map(_.take(60))}")
    // Control 2 — stats present but CBO off (the parent session): the
    // analyzed tables alone must not change the written order.
    graft.ops.Joins.ensureAnalyzed(spark, sf)
    val off = shape(spark,
      t => spark.table(graft.ops.Joins.analyzedName(sf, t)))
      .queryExecution.optimizedPlan.collectLeaves().map(_.toString)
    assert(off.head.contains("_lineitem"),
      s"reorder fired with CBO off?; leaves: ${off.map(_.take(60))}")
  }

  test("stats_cbo_broadcast: broadcast DECISION flips with stats, not just " +
       "the join order") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // The r14 verdict's exact ask: stats present → broadcast chosen
    // WITHOUT a hint. A selective two-predicate dim filter makes the
    // CBO (column-stats) size estimate ~9× smaller than the size-only
    // one (selectivity is SF-independent, so the ratio travels); a
    // threshold derived from the two measured estimates then separates
    // the planners at any test SF.
    graft.ops.Joins.ensureAnalyzed(spark, sf)
    def dim(ss: org.apache.spark.sql.SparkSession) =
      ss.table(graft.ops.Joins.analyzedName(sf, "customer"))
        .where(col("c_mktsegment") === "BUILDING" && col("c_acctbal") < 1000)
        .select("c_custkey")
    def shape(ss: org.apache.spark.sql.SparkSession) =
      ss.table(graft.ops.Joins.analyzedName(sf, "orders"))
        .join(dim(ss), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    val statsOn = Scoped.session(spark, "cboStats", Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.planStats.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false"))
    val sizeOnly = Scoped.session(spark, "sizeOnly", Seq(
      "spark.sql.cbo.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "false"))
    // logical estimates are computed under the ACTIVE session's conf
    // when read from the test thread — scope it per read and restore
    def est(ss: org.apache.spark.sql.SparkSession): BigInt = {
      val classic = ss.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      org.apache.spark.sql.classic.SparkSession.setActiveSession(classic)
      try dim(ss).queryExecution.optimizedPlan.stats.sizeInBytes
      finally org.apache.spark.sql.classic.SparkSession.setActiveSession(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    }
    val (eStats, eSize) = (est(statsOn), est(sizeOnly))
    assert(eStats * 2 < eSize,
      s"CBO estimate $eStats not meaningfully below size-only $eSize — " +
        "column stats are not flowing into the filter estimate")
    // threshold strictly between the two estimates → the SAME query
    // broadcasts iff the planner sees the stats-driven estimate
    val thr = ((eStats + eSize) / 2).toString
    val bOn = Scoped.session(spark, "cboStatsThr", Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.planStats.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> thr))
    val bOff = Scoped.session(spark, "sizeOnlyThr", Seq(
      "spark.sql.cbo.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> thr))
    assert(shape(bOn).queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "stats present but the dim was not broadcast — CBO estimate ignored")
    assert(!shape(bOff).queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "size-only planner broadcast anyway — the flip proves nothing")
  }

  test("histogram CBO: the equi-height histogram sharpens a skewed range " +
       "estimate and flips the broadcast where column stats alone cannot") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // The remaining unlit corner of the optimizer surface (r17 verdict):
    // stats_cbo_broadcast proves ndv/min/max-driven planning; this
    // proves the HISTOGRAM's marginal value. events.value is heavily
    // right-skewed (value > 170 keeps ~3% of rows), so the min/max
    // UNIFORM interpolation over ~[0, 328] estimates ~48% — an order of
    // magnitude apart. Same files, same predicate, same session confs;
    // the registered stats are the ONLY difference between the two
    // tables, so the estimate gap and the broadcast flip are the
    // histogram's alone.
    graft.ops.Joins.ensureHistAnalyzed(spark, sf)
    val cboOn = Scoped.session(spark, "histCbo", Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.planStats.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false"))
    def dim(ss: org.apache.spark.sql.SparkSession, variant: String) =
      ss.table(graft.ops.Joins.histStatsName(sf, variant))
        .where(col("value") > 170.0).select("user_id")
    def est(variant: String): BigInt = {
      val classic = cboOn.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      org.apache.spark.sql.classic.SparkSession.setActiveSession(classic)
      try dim(cboOn, variant).queryExecution.optimizedPlan.stats.sizeInBytes
      finally org.apache.spark.sql.classic.SparkSession.setActiveSession(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    }
    val (eHist, eCol) = (est("hist"), est("colstats"))
    assert(eHist * 2 < eCol,
      s"histogram estimate $eHist not meaningfully below the uniform " +
        s"column-stats estimate $eCol — the histogram is not flowing " +
        "into the filter estimate")
    // threshold strictly between the two estimates → the same query
    // broadcasts iff the planner reads the histogram-backed table
    val thr = ((eHist + eCol) / 2).toString
    val ss = Scoped.session(spark, "histCboThr", Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.planStats.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> thr))
    def shape(variant: String) =
      Tables.table(ss, sf, "orders").select("o_custkey")
        .join(dim(ss, variant), col("user_id") === col("o_custkey"))
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .queryExecution.executedPlan.toString
    assert(shape("hist").contains("BroadcastHashJoin"),
      "histogram stats present but the skew-filtered dim was not " +
        "broadcast — the sharpened estimate was ignored")
    assert(!shape("colstats").contains("BroadcastHashJoin"),
      "the uniform-estimate planner broadcast anyway — the flip proves " +
        "nothing")
  }

  test("AQE re-plans a statically-pessimistic SMJ to broadcast at runtime") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // The third leg of the planning trio this round pins (static stats →
    // stats_cbo_broadcast; runtime semi-join reduction →
    // join_runtime_bloom): when STATIC planning must assume the worst
    // (broadcast threshold -1 — the "stats unavailable/stale" posture),
    // AQE measures the ACTUAL shuffle output and re-plans the join to a
    // broadcast mid-query. Static threshold -1 forces the initial SMJ;
    // the adaptive threshold is its own conf, so the runtime planner
    // still may broadcast.
    val ss = Scoped.session(spark, "aqeReplan", Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10485760"))
    val dim = Tables.table(ss, sf, "customer")
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val q = Tables.table(ss, sf, "orders")
      .join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    q.collect() // the final plan only exists after execution
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), "AQE did not finalize the plan")
    // Scope finalPart to END at "Initial Plan" when that section exists
    // (r15 ADVICE: max(indexOf, len-1) always picked len-1, so the BHJ
    // assert silently spanned the initial plan too).
    val initialIdx = p.indexOf("Initial Plan")
    // the SMJ assert below NEEDS the initial-plan section; fail with a
    // named cause if a Spark upgrade drops it, not an opaque substring
    // bounds error (r16 review)
    assert(initialIdx >= 0,
      "adaptive plan string lost its 'Initial Plan' section")
    val finalPart = p.substring(p.indexOf("Final Plan"), initialIdx)
    val initialPart = p.substring(initialIdx)
    assert(initialPart.contains("SortMergeJoin"),
      "static plan was not the pessimistic SMJ — the re-plan proves nothing")
    assert(finalPart.contains("BroadcastHashJoin"),
      "AQE left the SMJ in place — runtime size never re-planned the join")
  }

  test("join_runtime_bloom: bloom subquery filters the fact scan pre-shuffle") {
    val p = SparkEntry.queries("join_runtime_bloom")(spark, sf)
      .queryExecution.executedPlan.toString
    // the injected runtime filter must sit on the lineitem (application)
    // side, upstream of the pinned sort-merge join's exchange
    assert(p.contains("might_contain"),
      "no bloom filter injected on the fact side")
    assert(p.contains("bloom_filter_agg"),
      "no bloom aggregate built over the filtered dim")
    assert(p.contains("SortMergeJoin"),
      "join algorithm drifted — the key pins SMJ so injection is the " +
        "only variable")
  }

  test("join_null_safe plans a hash join on the null-safe key, not a BNLJ") {
    // <=> is a hashable key (EqualNullSafe); if a refactor demotes it to
    // a non-equi condition the join becomes a nested loop — quadratic at
    // any scale.
    val p = plans("join_null_safe")
    assert(p.contains("HashJoin"), "null-safe join lost its hash plan")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "null-safe join degenerated to a nested loop")
  }

  test("mv_incremental_refresh: delta aggregates two-phase, merge is a join") {
    // staging is bypassed here, so the plan shows BOTH rollups (base +
    // delta) — each must be partial+final, and the merge a full-outer
    // join on the group key, never a re-aggregation of the union.
    val p = plans("mv_incremental_refresh")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "rollups are not partial+final aggregates")
    assert(p.contains("FullOuter"), "MV merge lost its full-outer join")
  }

  test("scan_agg_pushdown answers from parquet footers, not rows") {
    val p = plans("scan_agg_pushdown")
    assert(p.contains("PushedAggregation: [COUNT(*)"),
      "aggregate not pushed into the scan — the key would decode every " +
        "row at 100 TB instead of reading footer stats")
    // the scan's read schema must be the aggregate results themselves
    // (min/max/count columns), not the raw data columns
    assert(p.contains("ReadSchema: struct<count("),
      "scan still reads data columns — pushdown demoted")
  }

  test("sink_change_feed reads only the manifest-diffed cells") {
    // both version scans must carry the changed-cell isin filters as
    // PARTITION filters — CDF work proportional to rewritten data is the
    // key's whole at-scale contract
    val p = plans("sink_change_feed")
    val pruned = "PartitionFilters: \\[[^\\]]*day[^\\]]*IN".r
      .findAllIn(p).length
    assert(pruned >= 2,
      s"expected both version scans day-pruned, found $pruned")
  }

  test("join_dpp prunes fact partitions with a dynamicpruning subquery") {
    // The dim filter is non-literal, so the only way the fact scan skips
    // day directories is a DPP subquery in its PartitionFilters.
    assert(plans("join_dpp").contains("dynamicpruning"),
      "fact scan has no dynamicpruning partition filter — " +
        "the whole partitioned table would be read at scale")
  }

  test("contamination check broadcasts the benchmark gram set") {
    // The 100 TB claim: eval-set grams broadcast, corpus streams map-side.
    assert(plans("text_contamination").contains("BroadcastHashJoin"),
      "benchmark gram set is not broadcast — corpus side would shuffle")
  }

  test("stratified sample adds no shuffle beyond the output sort") {
    // The keep/drop decision is a map-side integer filter; the only
    // exchange allowed is the declared total-order sort's range partition.
    assert(!plans("sample_stratified").contains("Exchange hashpartitioning"),
      "sampling introduced a hash shuffle — no longer map-side")
  }

  test("sequence packing shuffles once: window partitioning serves the rollup") {
    // HashPartitioning(source) from the window satisfies the (source,
    // shard) groupBy's clustering, so exactly ONE hash exchange may appear.
    val n = "Exchange hashpartitioning".r
      .findAllIn(plans("pack_sequences")).length
    assert(n == 1, s"pack_sequences has $n hash exchanges, expected 1")
  }

  /** Plan text_unigram_nll in the simulated 100 TB regime: auto-broadcast
    * off (a real vocab exceeds the threshold, so the tok join SHUFFLES —
    * at bench SF the tiny count side broadcasts and no shuffle join
    * exists to audit), staging bypassed. */
  private def nllPlanAtScale(): String = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sys.props("graft.staging") = "false"
    try SparkEntry.queries("text_unigram_nll")(spark, sf)
      .queryExecution.executedPlan.toString
    finally {
      sys.props.remove("graft.staging")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("unigram_nll token join: AQE skew-split armed, splittable shape") {
    // The tok join is Zipf-hot at 100 TB. The runtime defense is AQE
    // skew-join: it must be enabled in the session AND the join (in the
    // shuffling regime) must be the sort-merge/shuffled-hash shape AQE
    // can split — a broadcast or cartesian shape would bypass the
    // mechanism. Skew stats never trip at bench SF, so armed +
    // splittable is the assertable contract.
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
    val p = nllPlanAtScale()
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "tok join is not a shape AQE skew-split can act on")
  }

  test("heavy hitters: rank limit pushes into WindowGroupLimit over the agg") {
    // The window must consume the aggregated (source, token) relation
    // with the rnk<=5 filter lowered to WindowGroupLimit, so per-group
    // state during ranking is 5 rows — not |vocab| — at any scale.
    val p = plans("text_heavy_hitters")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "token counting is not a partial+final aggregate")
    assert(p.contains("WindowGroupLimit"),
      "rank<=5 did not lower to WindowGroupLimit")
  }

  test("label centroid is a two-phase aggregate over exploded dims") {
    val p = plans("embed_centroid_label")
    assert(p.contains("Generate"), "posexplode missing from the plan")
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "centroid mean is not partial+final")
  }

  test("pack_manifest shuffles once, like the rollup it feeds") {
    val n = "Exchange hashpartitioning".r
      .findAllIn(plans("pack_manifest")).length
    assert(n == 1, s"pack_manifest has $n hash exchanges, expected 1")
  }

  test("corpus-sized rankings DEFAULT to the two-stage window; bucketed stay single") {
    // The scale-safe shape must be what the declared key RUNS, not an
    // opt-in: a corpus-sized ranking (exact scan) plans partial+final
    // windows, and a bucket-bounded one (IVF) keeps the single window.
    def windows(plan: String): Int = plan.linesIterator.count(
      _.replaceAll("^[-+:*\\s()0-9]*", "").startsWith("Window "))
    sys.props("graft.staging") = "false"
    try {
      val dflt = SparkEntry.queries("embed_cosine_topk")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(windows(dflt) === 2,
        s"corpus-sized ranking did not auto-arm the two-stage plan:\n$dflt")
      assert(windows(plans("embed_ann_ivf")) === 1,
        "bucket-bounded IVF ranking should keep the single window")
    } finally sys.props.remove("graft.staging")
  }

  test("ranking windows order NARROW rows — no array column rides a window shuffle") {
    // Round-7 scale fix, guarded: the 64-dim vectors / PQ ADC LUTs are
    // consumed by the map-side score and must be projected away BEFORE
    // the per-probe ranking windows — the probe's 50k leg measured a
    // ranking that carried them at ~8× the narrow cost (arrays are ~50×
    // the ordered row). Assert on the physical plan: no WindowExec /
    // WindowGroupLimitExec input schema contains an ArrayType column.
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.types.ArrayType
    val keys = Seq("embed_cosine_topk", "embed_knn_label", "embed_ann_ivf",
      "embed_ann_lsh", "embed_ann_pq", "embed_ann_incremental",
      "dedup_semantic", // its per-vector argmin window must stay narrow too
      "dedup_semantic_mp",
      "embed_ann_sq8",  // decoded vectors must not ride the ranking window
      "embed_ann_sq8_ivf", // codes AND decoded vectors both projected away
      "embed_ann_ivfpq")   // codes + LUTs out before ADC rank, vectors before re-rank
    sys.props("graft.staging") = "false"
    try keys.foreach { k =>
      val plan = unwrapAqe(SparkEntry.queries(k)(spark, sf)
        .queryExecution.executedPlan)
      val windows = plan.collect {
        case w: WindowExec => w.child.schema.fields.toSeq
        case w: WindowGroupLimitExec => w.child.schema.fields.toSeq
      }
      // non-vacuity: every audited key ranks through a window — an empty
      // collect means the traversal is broken (the pre-unwrap AQE bug),
      // not that the key got narrower
      assert(windows.nonEmpty, s"$k: no window found — traversal broken?")
      val wide = windows.flatten.filter(_.dataType.isInstanceOf[ArrayType])
      assert(wide.isEmpty,
        s"$k ranking window orders array columns: ${wide.map(_.name)}")
    } finally sys.props.remove("graft.staging")
  }

  test("sink_partitioned read is partition-pruned, not post-scan filtered") {
    // The day predicate must land in the scan's PartitionFilters (file
    // listing pruned to one day's directory); a Filter node over a full
    // scan would read the whole lake at 100 TB.
    val p = plans("sink_partitioned")
    assert("PartitionFilters: \\[[^\\]]*day#\\d+ = ".r.findFirstIn(p).isDefined,
      s"day predicate not in PartitionFilters:\n$p")
    assert(!"Filter [^\\n]*day#\\d+ = ".r.findFirstIn(p).isDefined,
      "day predicate degraded to a post-scan Filter")
  }

  test("dedup_semantic cell assignment is a partial+final argmin, not a window") {
    // The derived-C build scores N·C (vector, centroid) rows; the argmin
    // MUST collapse them to N map-side (partial_min over the (-sim, c_id)
    // struct) before any shuffle — a row_number window here would shuffle
    // the full N·C scored relation, the exact shape the join-based
    // assignment exists to avoid.
    val p = plans("dedup_semantic")
    assert("partial_min".r.findFirstIn(p).isDefined,
      s"assignment argmin not partial-aggregated:\n$p")
  }

  test("source_jdbc scan is range-partitioned across 8 parallel reads") {
    // The JDBC relation must carry numPartitions=8 (each task issues its
    // own bounded-range query); a single-partition JDBCRelation funnels
    // the whole table through one connection — the ingest anti-pattern
    // the partitionColumn options exist to prevent.
    val p = plans("source_jdbc")
    assert(p.contains("JDBCRelation"), s"no JDBC scan in plan:\n$p")
    assert(p.contains("numPartitions=8"),
      s"JDBC read not range-partitioned into 8:\n$p")
  }

  test("text_normalize is map-side scan work: no hash shuffle anywhere") {
    // Canonicalization must scale as a scan — the only exchange allowed
    // is the declared output sort's range partitioning.
    assert(!plans("text_normalize").contains("Exchange hashpartitioning"),
      "text_normalize introduced a hash shuffle — no longer map-side")
  }

  test("text_repetition and text_entropy count inside the row: no hash shuffle") {
    // Every output is a function of one document, so words and bigrams
    // are counted inside the row; the only exchange allowed is the
    // declared output sort's range partitioning.
    for (k <- Seq("text_repetition", "text_entropy"))
      assert(!plans(k).contains("Exchange hashpartitioning"),
        s"$k shuffles on a hash key — no longer row-local:\n${plans(k)}")
  }

  test("text_tfidf, text_bm25 and text_rrf_fusion count tf inside the row") {
    // tf is counted inside each document's row and sits behind one lazy
    // barrier: the barrier's lineage (not executed yet, so whole) holds
    // no shuffle, and no (doc_id, …) hash exchange feeds the df
    // aggregate anywhere else in the plan.
    import org.apache.spark.sql.execution.RDDScanExec
    for (k <- Seq("text_tfidf", "text_bm25", "text_rrf_fusion")) {
      val p = plans(k)
      assert("Exchange hashpartitioning\\(doc_id".r.findFirstIn(p).isEmpty,
        s"$k shuffles on doc_id — tf no longer row-local:\n$p")
      sys.props("graft.staging") = "false"
      val barriers =
        try SparkEntry.queries(k)(spark, sf).queryExecution.sparkPlan
          .collect { case r: RDDScanExec => r.rdd }.distinctBy(_.id)
        finally sys.props.remove("graft.staging")
      assert(barriers.size == 1, s"$k: expected one tf barrier")
      val lineage = barriers.head.toDebugString
      assert(!lineage.contains("Shuffled"),
        s"$k: the tf barrier computes a shuffle:\n$lineage")
    }
  }

  test("text_pii_redact: one rollup shuffle, pruned scan, partial aggs") {
    // The scrub must scale as a scan: all regex work map-side inside the
    // projection, ONE (lang, source) rollup (partial+final — only
    // (key, partial) pairs cross the wire), and the documents scan must
    // not read n_chars (column pruning through the regex projection).
    val p = plans("text_pii_redact")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one hash shuffle (rollup), got $n")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "rollup lost its map-side partial aggregation")
    assert(!p.contains("n_chars"),
      "documents scan reads n_chars — pruning broke")
  }

  test("win_interpolate_linear: both neighbor frames share one Window pass") {
    // Forward and backward IGNORE-NULLS fills (value + position, four
    // functions) must ride a single Window operator over one
    // (event_type, t) sort — a second window spec would re-sort and
    // re-shuffle the spine relation per direction.
    val p = plans("win_interpolate_linear")
    val w = "Window \\[".r.findAllIn(p).length
    assert(w == 1, s"expected one shared Window operator, got $w")
    // Since r19 the hourly aggregate sits behind a lazy localCheckpoint
    // barrier (spine bounds + spine join both consume it — events×2
    // without it, the r19 plan sweep), so the audited plan must read the
    // materialized relation and contain NO events parquet scan at all;
    // the aggregate's map-side partial runs once, at materialization.
    assert(!p.contains("events.parquet"),
      "interpolate spine re-scans events — the hourly barrier is gone")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      "expected the checkpointed hourly relation as the plan's source")
  }

  test("dq_drift_psi: psi rejoin broadcasts; aggregates two-phase") {
    // The per-type PSI relation is |types| rows — joining it back onto
    // the 10×|types| per-bin relation must be a broadcast hash join, and
    // both count rollups must carry map-side partials.
    val p = plans("dq_drift_psi")
    assert(p.contains("BroadcastHashJoin"),
      "psi rejoin no longer broadcasts")
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join crept into a dim-scale rejoin")
    assert(p.contains("partial_sum"),
      "bin counts lost their map-side partials")
  }

  test("embed_mips_ivf: candidate join stays broadcast on cell routing") {
    // The probe side is |probes|·nprobe rows — the cells join must
    // broadcast it (the embed_ann_ivf shape); a shuffle of the corpus-
    // sized cell relation onto probe cells would be the wrong direction.
    val p = plans("embed_mips_ivf")
    assert(p.contains("BroadcastHashJoin"),
      "MIPS candidate join lost its broadcast")
  }

  test("text_chunk is map-side generate work: no hash shuffle anywhere") {
    // Chunking must scale as a scan + generate — the only exchange
    // allowed is the declared output sort's range partitioning; a hash
    // shuffle would mean a join/agg crept into a per-row operator.
    assert(!plans("text_chunk").contains("Exchange hashpartitioning"),
      "text_chunk introduced a hash shuffle — no longer map-side")
    assert(plans("text_chunk").contains("Generate"),
      "text_chunk lost its posexplode Generate")
  }

  test("agg_mode aggregates partial+final with bounded per-group state") {
    // mode's buffer is a value-domain frequency map (ObjectHashAggregate);
    // the partial phase must run map-side so only (group, value, count)
    // triples cross the shuffle, never raw rows.
    val p = plans("agg_mode")
    assert("(Object)?HashAggregate".r.findAllIn(p).length >= 2,
      "agg_mode is not a partial+final aggregate")
  }

  test("win_time_range windows once on user_id over the events scan") {
    val p = plans("win_time_range")
    assert(p.contains("Window "), "interval RANGE frame planned no window")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"win_time_range has $n hash exchanges, expected 1")
  }

  test("sample_hash is a pure map-side filter: no hash shuffle, filter at scan") {
    // Content-hash sampling must cost one scan at 100 TB — the md5
    // filter runs map-side; the only exchange is the output sort's
    // range partitioning.
    val p = plans("sample_hash")
    assert(!p.contains("Exchange hashpartitioning"),
      "sample_hash introduced a hash shuffle — no longer map-side")
    assert(p.contains("Filter"), "sample predicate vanished from the plan")
  }

  test("sample_epochs_mix is map-side generate, sample_budget_topk is two-level") {
    // The epoch mixture must cost one scan + one explode at 100 TB: the
    // copies arithmetic and the fractional-epoch hash draw are map-side,
    // the only exchange is the output sort's range partitioning.
    val p = plans("sample_epochs_mix")
    assert(!p.contains("Exchange hashpartitioning"),
      "sample_epochs_mix introduced a hash shuffle — no longer map-side")
    assert(p.contains("Generate"), "epoch explode vanished from the plan")
    // The budget selection needs BOTH windows: the per-(lang, source)
    // prefix sum is the lossless prune that bounds the final per-lang
    // partition to |sources|·B tokens — with only the final window, the
    // whole stratum lands on one of a handful of lang partitions.
    val q = plans("sample_budget_topk")
    assert("Window".r.findAllIn(q).length >= 2,
      "sample_budget_topk lost its two-level window prune")
  }

  test("text_ppl_buckets ranks via the two-level decomposition") {
    // The exact per-lang rank must come from the bounded value-relation
    // cumulative window plus the (lang, value) tie window — a single
    // whole-stratum row_number would put a billion docs on one lang
    // partition at 100 TB.
    val p = plans("text_ppl_buckets")
    assert("Window".r.findAllIn(p).length >= 2,
      "text_ppl_buckets lost its two-level rank windows")
    assert(p.contains("row_number"), "tie-offset row_number vanished")
  }

  test("event_pattern_match is one ordered agg over a narrow scan") {
    // The per-user sequence must assemble in a single partial+final
    // collect_list (ObjectHashAggregate) with exactly one hash shuffle on
    // user_id — a sort-within-user or a second user_id exchange would pay
    // an extra corpus-sized shuffle at 100 TB. The regex automaton runs
    // post-agg on the per-user string, never per event.
    val p = plans("event_pattern_match")
    assert(p.contains("partial_collect_list"),
      "sequence assembly lost its map-side partial")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "expected exactly one hash shuffle (user_id)")
    assert(p.contains("ReadSchema: struct<event_id:bigint,ts:timestamp_ntz," +
      "user_id:bigint,event_type:string>"),
      "events scan no longer pruned to the 4 needed columns")
  }

  test("join_band_bucketed plans an equi join, not a nested loop") {
    // The whole point of the bucket expansion: the band condition must
    // ride a real equi-key (SortMergeJoin on bk with the band as
    // residual) — BNLJ here means the rewrite regressed to row×row.
    val p = plans("join_band_bucketed")
    assert(p.contains("SortMergeJoin [bk"),
      "band join lost its bucket equi-key")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"),
      "band join fell back to a nested loop")
  }

  test("agg_bitmap_distinct collapses ids to bitmaps map-side") {
    // The whole point of the bitmap path: raw user_ids must fold into
    // fixed-size bitmaps BEFORE the shuffle (partial_bitmap_construct_agg)
    // — if the partial disappears, every id crosses the wire and the key
    // degrades to count_distinct's shuffle volume.
    val p = plans("agg_bitmap_distinct")
    assert(p.contains("partial_bitmap_construct_agg"),
      "bitmap build lost its map-side partial")
    assert(p.contains("bitmap_or_agg"),
      "ALL rollup no longer merges the per-type bitmaps")
  }

  test("join_asof_nearest carries both fills in one window pass") {
    // Backward and forward signup fills must share a single Window
    // operator (mirrored frames over one (user, time) sort) — a second
    // window spec or a time-join would add a corpus-sized exchange.
    val p = plans("join_asof_nearest")
    assert("Window \\[".r.findAllIn(p).length == 1,
      "nearest-asof no longer shares one window operator")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "expected exactly one hash shuffle (user_id)")
  }

  test("agg_ohlc is one two-phase agg; open/close need no window") {
    // All six OHLC measures must ride a single (user, day) aggregate with
    // map-side partials (struct-typed min/max plans as SortAggregate) —
    // a window-based first/last would add a per-user sort+shuffle pass.
    val p = plans("agg_ohlc")
    assert(p.contains("partial_min(struct"),
      "open lost its map-side struct-min partial")
    assert(!p.contains("Window"), "agg_ohlc should not plan a window")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "expected exactly one hash shuffle ((user, day))")
  }

  test("win_gap_islands windows days, not events") {
    // The row_number must rank the DISTINCT (user, day) relation — per-
    // user task state bounded by calendar days. The distinct is a
    // partial+final agg below the window; events never cross it raw.
    val p = plans("win_gap_islands")
    assert("Window".r.findAllIn(p).length == 1 && p.contains("row_number"),
      "island numbering lost its single day-ranking window")
    assert("HashAggregate".r.findAllIn(p).length >= 6,
      "distinct/streak/summary aggs are no longer all two-phase")
    assert(p.contains("ReadSchema: struct<ts:"),
      "events scan no longer pruned to (ts, user_id)")
  }

  test("sample_shuffle_global is a range-partitioned sort, no window") {
    // The training order must come from ORDER BY over the derived key —
    // range partition + per-partition sort — never a global row_number
    // (single-partition window) or a driver-side collect.
    val p = plans("sample_shuffle_global")
    assert(p.contains("Exchange rangepartitioning"),
      "global shuffle order lost its range-partitioned sort")
    assert(!p.contains("Window"), "unexpected window in the shuffle order")
  }

  test("fn_regexp is scan-project with the 2-column read schema") {
    // Five regex expressions over one scan: no shuffle except the output
    // sort, and the scan reads only (doc_id, text) — a full-schema read
    // would drag lang/source/n_chars through a 100 TB scan for nothing.
    val p = plans("fn_regexp")
    assert(!p.contains("Exchange hashpartitioning"),
      "fn_regexp introduced a hash shuffle")
    assert("ReadSchema: [^\\n]*doc_id[^\\n]*text".r.findFirstIn(p).isDefined &&
      !"ReadSchema: [^\\n]*n_chars".r.findFirstIn(p).isDefined,
      s"fn_regexp scan is not pruned to (doc_id, text):\n$p")
  }

  test("agg_decimal_exact aggregates partial+final like its double twin") {
    // Decimal sums are associative, so exactness must not cost the
    // map-side combine: partial HashAggregate before the shuffle,
    // final after — same shape as agg_pricing_summary.
    val p = plans("agg_decimal_exact")
    assert("(Object)?HashAggregate".r.findAllIn(p).length >= 2,
      "agg_decimal_exact is not a partial+final aggregate")
  }

  test("win_fill_forward shares one exchange across both fill frames") {
    // ffill and bfill differ only in frame bounds; both must ride the
    // same (user_id) partitioning — a second hash exchange would mean
    // the window specs diverged.
    val p = plans("win_fill_forward")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"win_fill_forward has $n hash exchanges, expected 1")
  }

  test("agg_calendar_spine joins day-sized relations, broadcast not sort-merge") {
    // The fact is pre-aggregated to one row per day BEFORE the join and
    // the spine is ~2.4k rows — a SortMergeJoin here would mean the
    // join slipped below the aggregate (fact-sized join at 100 TB).
    val p = plans("agg_calendar_spine")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"spine join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "spine join degraded to sort-merge")
  }

  test("agg_funnel shuffles once on user_id with map-side partials") {
    // Conditional mins fold map-side: only 3 timestamps/user cross the
    // user_id shuffle; the conversion rollup is a 1-row final agg.
    val p = plans("agg_funnel")
    assert("(Object)?HashAggregate".r.findAllIn(p).length >= 2,
      "agg_funnel is not partial+final")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"agg_funnel has $n hash exchanges, expected 1")
  }

  test("agg_retention shuffles exactly twice, both aggs partial+final") {
    // One user_id exchange (min + collect_set fold map-side), one
    // (cohort, offset) exchange for the rollup. A third exchange would
    // mean the day-set stopped riding the user_id aggregation.
    val p = plans("agg_retention")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 2, s"agg_retention has $n hash exchanges, expected 2")
    assert("(Object)?HashAggregate".r.findAllIn(p).length >= 4,
      "agg_retention aggs are not partial+final")
  }

  test("sample_weighted is a pure map-side filter: no hash shuffle") {
    // Mixture sampling must cost one scan at 100 TB: the per-source
    // rate derives from the name (no dim join) and the md5 draw is a
    // map-side filter; the only exchange is the output sort's range
    // partitioning.
    val p = plans("sample_weighted")
    assert(!p.contains("Exchange hashpartitioning"),
      "sample_weighted introduced a hash shuffle — no longer map-side")
    assert(p.contains("Filter"), "mixture predicate vanished from the plan")
  }

  test("bucketed join is co-located: no exchange feeds the join") {
    val p = plans("join_bucketed")
    assert(p.contains("SortMergeJoin"), "bucketed join should sort-merge")
    // The only shuffles allowed are the ones AFTER the join (final agg +
    // output sort); the join inputs must come straight from bucketed scans.
    val joinIdx = p.indexOf("SortMergeJoin")
    val preJoin = p.substring(joinIdx)
    assert(!preJoin.contains("Exchange hashpartitioning"),
      "bucketed join inputs were re-shuffled — bucketing not picked up")
  }

  test("fuzzy join: argmin is a two-phase hash aggregate, never a window") {
    // The r14 lesson this pins: best-match via row_number windows
    // measured 5+ s at sf0.1 where min(struct) is sub-second — and at
    // scale the window form shuffles every verified pair where the
    // aggregate ships one partial row per (key, map partition). A
    // refactor that reintroduces a Window here is a perf regression
    // even though it stays correct.
    val p = plans("join_fuzzy_blocked")
    assert(!p.contains("Window"),
      "join_fuzzy_blocked planned a Window — argmin must stay a hash agg")
    // the packed-long argmin must stay a codegen'd HashAggregate pair
    // (a struct-typed min would silently degrade to SortAggregate —
    // exactly the regression this pins)
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "best-match argmin is not a partial+final hash aggregate")
    assert(!p.contains("SortAggregate"),
      "argmin degraded to a sort-based aggregate")
  }

  test("q21 reads lineitem once: per-order counts ride the pair window") {
    // The r14 rescan fix this pins: the two-leg form computed the
    // (orderkey, suppkey) pre-aggregate once per consumer branch —
    // column pruning makes branches structurally different, so AQE
    // exchange reuse cannot dedupe them, and lineitem (the biggest
    // table in the query) was scanned and aggregated twice.
    val n = "lineitem\\.parquet".r
      .findAllIn(plans("q21_waiting_supplier")).length
    assert(n == 1, s"q21 must scan lineitem exactly once, found $n scans")
  }

  test("merge_scd2: cutoff predicates reach the events scan") {
    // The incremental-merge posture: the base build scans ONLY
    // pre-cutoff history and the delta leg ONLY the batch — both as
    // parquet-level pushed filters, so at 100 TB each leg reads its own
    // time slice instead of filtering the full changelog post-scan.
    val p = plans("merge_scd2")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*LessThan\\(ts.*"),
      "base leg lost its ts < cutoff pushdown")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts.*"),
      "delta leg lost its ts >= cutoff pushdown")
    // and the merge must never degenerate to a cartesian on the dim side
    assert(!p.contains("CartesianProduct"))
  }

  test("r18 analytics: PIT join carries state on one window, basket top-20 " +
       "is a top-k operator, KS windows never sort fact-scale rows") {
    // join_scd2_pit: the strictly-before lookup must stay the
    // union-and-carry-forward shape — exactly one user-partitioned
    // Window and NO join between the dim and fact legs (a range/theta
    // join here rescans the dim per fact at scale).
    val pit = plans("join_scd2_pit")
    assert("Window".r.findAllIn(pit).length >= 1, "PIT lost its window")
    assert(!pit.contains("CartesianProduct") &&
      !pit.contains("BroadcastNestedLoopJoin"),
      "PIT lookup degenerated to a product join")
    // agg_basket_pairs: the top-20 cut must be TakeOrderedAndProject
    // (a global sort of the pair space would materialize every pair
    // ordered), and the lift joins hang off that 20-row side.
    assert(plans("agg_basket_pairs").contains("TakeOrderedAndProject"),
      "basket top-20 is not a top-k operator")
    // dq_drift_ks: both windows run over the distinct-cents HISTOGRAM
    // (child of a partial+final aggregate), never raw events — assert
    // the aggregate sits below the windows.
    val ks = plans("dq_drift_ks")
    val winIdx = ks.indexOf("Window")
    assert(winIdx >= 0 && "HashAggregate".r.findAllIn(ks.substring(winIdx))
      .length >= 2, "KS windows do not sit over the histogram aggregate")
  }

  test("agg_gini ranks via the bounded histogram — no fact-scale sort on a " +
       "5-value partition key") {
    // The r17 verdict's scale-killer: row_number over
    // Window.partitionBy(segment) with |segments| = 5 sorts the whole
    // customer relation on five tasks. The rewrite must rank through the
    // two-level histogram prefix: any window partitioned by segment
    // ALONE may only see the bucket-aggregate relation (bounded by the
    // spend envelope), and the residual prefix must partition by
    // (segment, bucket) so its sort parallelism grows with the data.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val plan = unwrapAqe(SparkEntry.queries("agg_gini")(spark, sf)
      .queryExecution.executedPlan)
    assert(!plan.toString.contains("row_number"),
      "gini regressed to a per-row rank")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "gini lost its prefix windows entirely")
    assert(windows.exists(_.partitionSpec.size >= 2),
      "residual prefix window lost its (segment, bucket) partitioning")
    windows.filter(_.partitionSpec.size < 2).foreach { w =>
      val bucketAgg = w.collect { case a: HashAggregateExec => a }
        .exists(_.groupingExpressions.size >= 2)
      assert(bucketAgg,
        "a segment-only window runs over a non-bucket-bounded relation — " +
          "that is a customer-scale sort on 5 tasks at 100 TB")
    }
  }

  // The plan sweep: flags every non-drain key's executed plan for the
  // silent degradations below. Each flag is compared against an explicit
  // allowlist, triaged in OPTIMIZATION_r22.md ("Plan-sweep pass" and the
  // closing sweep re-run), so a new flag fails here and a listed flag
  // that stops firing fails too — the list cannot go stale.
  //  - SortAggregate: struct/array buffer types demote the whole
  //    aggregate out of HashAggregateExec;
  //  - Cartesian: a CartesianProduct anywhere;
  //  - rescan:<fact>×n: a fact table read n > 1 times — a shared subframe
  //    computed once per consumer branch (column pruning makes the
  //    branches differ, so exchange reuse can't fire: the q21 pattern);
  //  - huge-codegen: a whole-stage-codegen method over the JIT
  //    HugeMethodLimit (8000 B; HotSpot never JITs it, so the hot path
  //    runs interpreted — how a dead fallback branch cost
  //    join_fuzzy_blocked 6 s in r14), or with negative size stats (the
  //    subtree failed Janino compilation outright);
  //  - no-codegen: no whole-stage-codegen subtree is visible;
  //  - plan-failed: building the plan threw.
  // The same pass fails outright if a spine consumer's plan reads
  // `events` (no allowlist: those keys must read the staged spine).
  private val HugeMethodLimit = 8000
  private val factTables =
    Seq("lineitem", "events", "documents", "embeddings", "orders")

  /** How many times plan text `p` reads fact table `t`. Counts Location:
    * entries, not raw path mentions — a V2 BatchScan node prints its path
    * twice (header + Location). */
  private def scans(p: String, t: String): Int =
    s"InMemoryFileIndex\\([^)]*\\)\\[[^\\]]*$t\\.parquet".r.findAllIn(p).length

  /** The keys served by the staged hourly spines (Windows.denseHourly and
    * the cents spine). Their plans must read the staged spine, never
    * `events`: a refactor that inlines a raw hourly or daily rollup again
    * brings back a full fact scan per call. */
  private val spineConsumers = Set(
    "win_acf", "win_seasonal_baseline", "win_changepoint",
    "win_forecast_des", "win_forecast_hw", "win_rolling_corr",
    "win_interpolate_linear", "win_trend_theil_sen", "win_cusum",
    "dq_anomaly_volume", "dq_outlier_mad")

  private def sweepFlags(plan: org.apache.spark.sql.execution.SparkPlan)
      : Set[String] = {
    val p = plan.toString
    val cg = org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
    val huge = cg.map(_._3.maxMethodCodeSize)
      .exists(sz => sz > HugeMethodLimit || sz < 0)
    val rescans = factTables.flatMap { t =>
      val n = scans(p, t)
      if (n > 1) Some(s"rescan:$t×$n") else None
    }
    Set("SortAggregate" -> p.contains("SortAggregate"),
      "Cartesian" -> p.contains("CartesianProduct"),
      "huge-codegen" -> huge,
      "no-codegen" -> cg.isEmpty).collect { case (f, true) => f } ++ rescans
  }

  // Triage classes (OPTIMIZATION_r22.md).
  private val SetOps =
    "r22 declared: the two orders legs are the set op's two declared inputs"
  private val Slices =
    "r22 declared: disjoint pushed-filter slices, combined I/O ≈ one scan"
  private val Bounds =
    "r22 declared: a bounds/watermark pass is fundamentally a second pass"
  private val Replay =
    "r22 declared: the exact-replay leg is the declared gate"
  private val Roles =
    "r22 declared: two roles of one table, not a rescan"
  private val TwoStage =
    "r22 two-stage ANN shape: candidate scan + re-rank fetch"
  private val Ordered =
    "r22 ordered-buffer aggregate: the demotion is the price of determinism"
  private val Lut =
    "r22 benign: the >8000 B method is the 10-row probe LUT projection"

  private val sweepAllowlist: Map[String, (Set[String], String)] = Map(
    "agg_approx_quantile" -> (Set("rescan:orders×2"), Replay),
    "agg_approx_topk_evict" -> (Set("rescan:events×2"), Replay),
    "agg_bitmap_distinct" -> (Set("SortAggregate"), Ordered),
    "agg_calendar_spine" -> (Set("rescan:orders×2"), Bounds),
    "agg_hll_merge" -> (Set("rescan:events×2"),
      "r22 evaluated and rejected: the single-scan variant measured 0.164 → 0.410 s"),
    "agg_minmax_by" -> (Set("SortAggregate"), Ordered),
    "agg_ohlc" -> (Set("SortAggregate"), Ordered),
    "dedup_bloom_incremental" -> (Set("rescan:documents×2"), Slices),
    "dq_drift_psi" -> (Set("rescan:events×2"), Slices),
    "dq_freshness" -> (Set("rescan:events×2"), Bounds),
    "dq_profile" -> (Set("SortAggregate"), Ordered),
    "dq_referential_audit" -> (Set("rescan:orders×2"),
      Roles + ": orders is a child (o_custkey) and a parent (o_orderkey)"),
    "embed_ann_incremental" -> (Set("rescan:embeddings×2"), Slices),
    "embed_ann_ivfpq" -> (Set("huge-codegen", "rescan:embeddings×3"),
      s"$Lut; $TwoStage"),
    "embed_ann_matryoshka" -> (Set("rescan:embeddings×2"), TwoStage),
    "embed_ann_nsw" -> (Set("rescan:embeddings×3"), TwoStage),
    "embed_ann_pq" -> (Set("huge-codegen", "rescan:embeddings×3"),
      s"$Lut; $TwoStage"),
    "embed_ann_recall_audit" -> (Set("rescan:embeddings×3"), Replay),
    "embed_ann_recall_lsh" -> (Set("rescan:embeddings×2"), Replay),
    "embed_ann_recall_nsw" -> (Set("rescan:embeddings×5"), Replay),
    "embed_ann_recall_pq" -> (Set("huge-codegen", "rescan:embeddings×5"),
      s"$Lut; $Replay"),
    "embed_cosine_topk" -> (Set("rescan:embeddings×2"), Roles + ": probe vs corpus"),
    "embed_knn_label" -> (Set("rescan:embeddings×2"), Roles + ": probe vs corpus"),
    "embed_neardup" -> (Set("rescan:embeddings×2"), Roles + ": probe vs corpus"),
    "embed_normalize" -> (Set("rescan:embeddings×2"),
      Roles + ": mean, then normalize"),
    "fn_collation" -> (Set("SortAggregate"), Ordered),
    "graph_label_prop" -> (Set("SortAggregate"), Ordered),
    "join_full_outer" -> (Set("rescan:orders×2"), Slices),
    "join_interval" -> (Set("rescan:events×2"), Slices),
    "join_runtime_bloom" -> (Set("rescan:orders×2"),
      "r22 declared: the bloom build scans the creation side twice by design"),
    "join_skew_aqe" -> (Set("no-codegen"),
      "r22 closing sweep: the key pins AQE on; its skew split is declared"),
    "merge_scd2" -> (Set("rescan:events×2"), Slices),
    "pipeline_incremental_clean_pack" -> (Set("rescan:documents×2"), Slices),
    "q17_small_qty_revenue" -> (Set("rescan:lineitem×2"),
      "r22 declared: the TPC-H per-part-avg decorrelation shape"),
    "set_except" -> (Set("rescan:orders×2"), SetOps),
    "set_except_all" -> (Set("rescan:orders×2"), SetOps),
    "set_intersect" -> (Set("rescan:orders×2"), SetOps),
    "set_intersect_all" -> (Set("rescan:orders×2"), SetOps),
    "set_union_all" -> (Set("rescan:orders×2"), SetOps),
    "set_union_distinct" -> (Set("rescan:orders×2"), SetOps),
    "sql_subquery_cte" -> (Set("rescan:orders×3"),
      "r22 declared: the declared SQL text"),
    "text_collocations" -> (Set("rescan:documents×2"),
      Roles + ": the unigram and bigram explodes of one corpus"),
    "text_sentiment" -> (Set("SortAggregate"), Ordered))

  test("plan sweep: every non-drain key's flags are exactly the triaged " +
       "allowlist") {
    // Runtime view: staging on, so the plans are the ones the bench runs.
    // AQE off for the pass: codegenStringSeq cannot see through an
    // AdaptiveSparkPlanExec root (it finds zero subtrees), which made the
    // huge-method check a silent no-op in r14. A key planned in a
    // graft.Scoped child session does not see the parent's runtime conf,
    // so its plan is taken with AQE off in the child too — unless the key
    // pins AQE itself (join_skew_aqe).
    val aqe = "spark.sql.adaptive.enabled"
    def sweepPlan(k: String) = {
      val df = SparkEntry.queries(k)(spark, sf)
      val s = df.sparkSession
      if ((s eq spark) || s.conf.getAll.contains(aqe)) df.queryExecution.executedPlan
      else {
        s.conf.set(aqe, "false")
        try df.queryExecution.executedPlan finally s.conf.unset(aqe)
      }
    }
    // Frames other suites cached in the shared session would swap an
    // InMemoryTableScan in for the plan under audit.
    spark.catalog.clearCache()
    spark.conf.set(aqe, "false")
    val spineBypass = Seq.newBuilder[String]
    val found = try (SparkEntry.queries.keySet -- streamingKeys).toSeq.map { k =>
      k -> (try {
              val plan = sweepPlan(k)
              if (spineConsumers(k) && scans(plan.toString, "events") > 0)
                spineBypass += k
              sweepFlags(plan)
            } catch { case scala.util.control.NonFatal(e) =>
              Set(s"plan-failed(${e.getClass.getSimpleName})") })
    }.filter(_._2.nonEmpty).toMap
    finally spark.conf.unset(aqe)
    assert(spineBypass.result().isEmpty,
      s"spine consumers scanning events instead of the staged spine: " +
        spineBypass.result().sorted.mkString(", "))
    val allowed = sweepAllowlist.map { case (k, (fs, _)) => k -> fs }
    def minus(a: Map[String, Set[String]], b: Map[String, Set[String]]) =
      (for ((k, fs) <- a.toSeq; f <- fs -- b.getOrElse(k, Set.empty))
        yield s"$k: $f").sorted
    val unexpected = minus(found, allowed)
    val stale = minus(allowed, found)
    assert(unexpected.isEmpty && stale.isEmpty,
      s"\nnew flags (fix the plan, or triage and list them):\n  " +
        unexpected.mkString("\n  ") +
        s"\nlisted flags that no longer fire (drop them):\n  " +
        stale.mkString("\n  "))
  }
}
