package graft.ops

import graft.{D, Tables}
import graft.QueryDefs.Q
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY.md §2.4 aggregations. Stock `HashAggregateExec` two-phase
  * (partial + final) aggregation throughout — map-side combine is automatic,
  * which is the property that keeps these shuffles small at 100 TB: only one
  * row per (partition × group) crosses the wire.
  */
object Aggs {

  /** Shared derivation for the two experimentation readouts
    * (agg_ab_ttest, agg_mann_whitney): exact integer cents, the
    * deterministic user_id%2 arm split, and NULL metrics excluded —
    * one definition so the two keys can never decouple on what "the
    * metric" or "the arms" mean (r16 review), and because a NULL value
    * must neither sum nor rank (NULL ORDER position differs between
    * Spark windows, NULLS FIRST, and DuckDB's default NULLS LAST —
    * an engine divergence the filter removes at the source). */
  private def abEvents(s: org.apache.spark.sql.SparkSession,
                       dir: String): org.apache.spark.sql.DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), (col("user_id") % 2 === 0).as("a"),
        round(col("value") * 100, 0).cast("long").as("c"),
        col("event_id"))
      .where(col("c").isNotNull)

  /** Poisson(1) inverse-CDF thresholds for the bootstrap resample
    * weights, pre-scaled to the 2^32 draw space and rendered as
    * FIXED-WIDTH lowercase hex so membership is a pure string compare on
    * the md5 draw in BOTH engines (the sample_weighted idiom — no
    * engine-specific hex-to-int parsing). floor(P(X≤k)·2^32) for
    * k = 0..8; a draw past the last threshold gets w = PoissonThr.size
    * = 9 (tail mass P(X≥9) ≈ 1.1e-6 — the r17 ADVICE extension: the
    * old k ≤ 5 cut lumped ~6.3e-4 of mass into w = 6 and slightly
    * deflated resample variance; both engines interpolate the SAME
    * constant, so the CDF cannot drift between them). */
  private val PoissonThr: Seq[String] =
    Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
      4279248373L, 4292415291L, 4294609777L, 4294923276L,
      4294962463L).map(t => f"$t%08x")

  /** decimal(38,0) widening for overflow-free exact integer sums (the
    * DuckDB oracles mirror with HUGEINT). */
  private def dec38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")

  val queries: Map[String, Q] = Map(
    /** Flagship: TPC-H Q1 shape — scan → filter → hash agg → sort. */
    "agg_pricing_summary" -> ((s, dir) =>
      Tables.table(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          D.r2(sum("l_quantity")).as("sum_qty"),
          D.r2(sum("l_extendedprice")).as("sum_base_price"),
          D.r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("sum_disc_price"),
          D.r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
                   (lit(1) + col("l_tax")))).as("sum_charge"),
          D.r2(avg("l_quantity")).as("avg_qty"),
          D.r2(avg("l_extendedprice")).as("avg_price"),
          D.r2(avg("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    "agg_distinct_count" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("users"))
        .orderBy("event_type")),

    "agg_multi_distinct" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("users"),
             countDistinct(to_date(col("ts"))).as("days"))
        .orderBy("event_type")),

    // DataFrame groupingSets API (Spark 4) — no temp-view registration, and
    // the two dimension joins stay broadcast-eligible at any fact-side scale.
    // r21 wave 5: the Expand ran over every joined FACT row (3 copies of
    // 600k rows at sf0.1 into the grouping-sets aggregate —
    // plans/r21/agg_grouping_sets_w5_before.txt Expand(13)). sum() is
    // reaggregable, so the fact is first folded to the FINEST grain
    // (n_name, yr — ~200 groups, one plain hash aggregate with map-side
    // partials) and Expand + the grouping-sets aggregate run over those
    // partial sums instead of the corpus. The finest set re-emits the
    // partials themselves; the coarser sets sum them — the one rounding
    // still happens once, at the end.
    "agg_grouping_sets" -> ((s, dir) => {
      val li = Tables.table(s, dir, "lineitem")
      val sup = Tables.table(s, dir, "supplier")
      val nat = Tables.table(s, dir, "nation")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"), year(col("l_shipdate")).cast("int").as("yr"),
                (col("l_extendedprice") * (lit(1) - col("l_discount")))
                  .as("rev"))
        .groupBy(col("n_name"), col("yr"))
        .agg(sum(col("rev")).as("rev"))
        .groupingSets(
          Seq(Seq(col("n_name"), col("yr")), Seq(col("n_name")), Seq()),
          col("n_name"), col("yr"))
        .agg(D.r2(sum(col("rev"))).as("revenue"))
        .orderBy(asc_nulls_first("n_name"), asc_nulls_first("yr"))
    }),

    "agg_rollup" -> ((s, dir) => {
      val nation = Tables.table(s, dir, "nation")
      val region = Tables.table(s, dir, "region")
      // NB: rollup("name", ...) (String overload) after a join trips Spark
      // 4.1's ambiguous-self-join detection; the Column overload with
      // functions.col (no dataset-id metadata) resolves cleanly.
      nation.join(region, nation("n_regionkey") === region("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    }),

    "agg_cube" -> ((s, dir) =>
      Tables.table(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(D.r2(sum("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first)),

    "agg_stats" -> ((s, dir) =>
      Tables.table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          D.r2(stddev_samp(col("l_quantity"))).as("sd_qty"),
          D.r2(var_samp(col("l_quantity"))).as("var_qty"),
          D.r6(corr(col("l_extendedprice"), col("l_quantity"))).as("corr_pq"),
          D.r6(covar_samp(col("l_quantity"), col("l_discount"))).as("cov_qd"))
        .orderBy("l_returnflag")),

    "agg_median_percentile" -> ((s, dir) =>
      Tables.table(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(D.r2(median(col("o_totalprice"))).as("med"),
             D.r2(percentile(col("o_totalprice"), lit(0.9))).as("p90"))
        .orderBy("o_orderstatus")),

    /** HLL++ estimate under an ORACLED error contract (r13/r14 verdict
      * item): the estimate itself is engine-specific (DuckDB's sketch
      * differs), so the gate can't hash it — instead the key emits the
      * exact count plus `within_5pct` = |est/exact − 1| ≤ 0.05, and the
      * oracle replays the exact count with a constant-TRUE contract
      * column. A drifting HLL implementation now fails the DRIVER gate,
      * not just ApproxDistinctSpec. The exact count rides the same
      * aggregate (one pass, both partial map-side); at 100 TB you'd run
      * the HLL alone — the exact side here IS the verification.
      *
      * rsd = 0.02, NOT the 0.05 the contract quotes: the contract column
      * went red the first time this ran at sf0.1 (every group has 1500
      * distinct users; at rsd 0.05 the 512-register sketch puts n/m ≈ 3
      * just past HLL++'s linear-counting zone, its worst bias regime —
      * measured ~6-8% off for every group, exactly the regime drift the
      * r14 verdict wanted this oracle to catch). 4096 registers keep any
      * n ≲ 10k in near-exact linear counting and make the 5% contract a
      * 3σ bound (σ = 1.04/√4096 ≈ 1.6%) beyond it — the sketch is 32 KB
      * per group either way, nothing at the scales this engine targets. */
    "agg_approx_distinct" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("est"),
          countDistinct(col("user_id")).as("n_exact"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("est").cast("double") / col("n_exact").cast("double")
            - 1.0) <= 0.05).as("within_5pct"))
        .orderBy("event_type")),

    // Serialized to a pipe-joined string: the driver's pandas hasher cannot
    // hash array cells, so declared queries never output array/map/struct.
    "agg_collect_sorted" -> ((s, dir) => {
      val supplier = Tables.table(s, dir, "supplier")
      val nation = Tables.table(s, dir, "nation")
      supplier.join(nation, col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(array_join(array_sort(collect_list(col("s_name"))), "|")
          .as("names"))
        .orderBy("n_name")
    }),

    "agg_top_groups_having" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") > 100)
        .orderBy("event_type")),

    // Boolean/conditional aggregate surface: count_if + bool_and/bool_or
    // per event_type — all three fold map-side like any hash aggregate.
    "agg_bool" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count_if(col("value") > 50).as("n_hi"),
          bool_and(col("value") >= 0).as("all_nonneg"),
          bool_or(col("value") > 99).as("any_gt99"))
        .orderBy("event_type")),

    // Exact DECIMAL money aggregation — the correctness twin of the
    // double-typed sums everywhere else. At 10⁹+ rows a double sum
    // drifts with partition count (fp addition is non-associative, so
    // the same data under AQE re-planning can emit different cents);
    // DECIMAL(18,2) sums are exact integers underneath — associative,
    // partition-invariant, and identical on every engine. The cast
    // rounds HALF_UP at 2dp on both sides; 2dp-intent doubles are never
    // at a .005 midpoint, so the casts agree. Still a plain partial+final
    // hash aggregate — exactness costs no extra pass.
    // Operand precisions are deliberately narrow (15,2 × 5,2): wide
    // enough for any line value, and the product precision stays ≤ 38
    // in BOTH engines' inference — DuckDB silently falls back to DOUBLE
    // past 38, which would reintroduce exactly the drift this key exists
    // to rule out. The declared output is the canonical decimal TEXT
    // (scale pinned by the decimal type, so renderings agree): the
    // comparison harness round-trips decimals through pandas, which
    // downcasts wide decimals to float64 — text is the one encoding
    // that stays exact end-to-end, as fn_struct does for structs.
    "agg_decimal_exact" -> ((s, dir) => {
      val price = col("l_extendedprice").cast("decimal(15,2)")
      val disc = col("l_discount").cast("decimal(4,2)")
      Tables.table(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(price).cast("string").as("sum_price"),
          sum(col("l_quantity").cast("decimal(15,2)")).cast("string")
            .as("sum_qty"),
          sum(price * (lit(1).cast("decimal(4,2)") - disc)).cast("string")
            .as("sum_disc_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Calendar-spine gap fill — the reporting contract "every day
    // appears, zero-filled". The spine is generated from the data's own
    // [min, max] date bounds (a 1-row agg → sequence-explode, ~2.4k rows
    // regardless of fact size), the fact is pre-aggregated to one row
    // per day BEFORE the join, and AQE broadcasts the join of two
    // day-sized relations — fact rows never meet the spine. Day is
    // emitted as 'yyyy-MM-dd' text (tz-proof, identical both engines).
    "agg_calendar_spine" -> ((s, dir) => {
      val orders = Tables.table(s, dir, "orders")
      val daily = orders
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n_orders"), D.r2(sum("o_totalprice")).as("rev"))
      val spine = orders
        .agg(to_date(min("o_orderdate")).as("d0"),
          to_date(max("o_orderdate")).as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
      spine.join(daily, Seq("d"), "left")
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("rev"), lit(0.0)).as("rev"))
        .orderBy("day")
    }),

    // Ordered-stage funnel (view → click → purchase): per-user earliest
    // time of each stage via conditional min (one hash agg on user_id —
    // partial map-side, so only 3 timestamps per user cross the
    // shuffle), then stage flags demand TIME ORDER (click at-or-after
    // first view, purchase at-or-after that click), reduced to one
    // conversion row. Second-truncated times: sub-µs nanos differ
    // between engines and a boundary tie must not.
    "agg_funnel" -> ((s, dir) => {
      val tss = date_trunc("second", col("ts"))
      val stage = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "view", tss)).as("t_view"),
          min(when(col("event_type") === "click", tss)).as("t_click"),
          min(when(col("event_type") === "purchase", tss)).as("t_purchase"))
      val s2 = col("t_view").isNotNull && col("t_click").isNotNull &&
        col("t_click") >= col("t_view")
      stage.agg(count(lit(1)).as("n_users"),
        count_if(col("t_view").isNotNull).as("n_view"),
        count_if(s2).as("n_view_click"),
        count_if(s2 && col("t_purchase").isNotNull &&
          col("t_purchase") >= col("t_click")).as("n_funnel"))
    }),

    // Cohort retention (cohort = first-active day; users still active
    // at day offsets 0/1/7/14/30). Per-user min(day) AND the distinct
    // active-day set come out of ONE user_id aggregation — both
    // partial-aggregate map-side, and the per-user state is bounded by
    // CALENDAR DAYS in range, not by event count, so a hot user costs
    // the same as a quiet one. Explode → offsets → one (cohort, offset)
    // rollup: two exchanges total (plan-asserted). Each user contributes
    // at most one row per (cohort, offset) — the set was distinct — so
    // count(*) IS distinct users, with no count_distinct expansion.
    // CEP-style sequence pattern matching (the MATCH_RECOGNIZE class):
    // per user, count occurrences of view → click+ → purchase over the
    // event stream in (ts, event_id) order. The per-user sequence is ONE
    // ordered aggregation (sort_array(collect_list) — map-side partial,
    // deterministic total order via the unique event_id tie-break), and
    // the pattern automaton is a regex over the type string — leftmost
    // non-overlapping match semantics agree across engines for this
    // backtracking-free pattern. Per-user state is bounded by that
    // user's activity — the same bound any CEP engine (or
    // flatMapGroupsWithState) carries; a hot-key cap would sessionize
    // first (win_sessionize composes for exactly that).
    "event_pattern_match" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")), ",").as("seq"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("n_events"),
          size(regexp_extract_all(col("seq"),
            lit("view,(click,)+purchase"), lit(0))).cast("long")
            .as("n_patterns"))
        .where(col("n_patterns") >= 1)
        .orderBy("user_id")),

    // EWMA — exponential time-decay smoothing, the feedback signal every
    // metrics/trainer pipeline keeps per key (loss curves, popularity
    // decay, rate estimators). y_t = (1-α)·y_{t-1} + α·x_t seeded with
    // the first observation, α = 1/8: both constants are EXACT binary
    // fractions, and the Horner fold uses only IEEE *,+ in chronological
    // order, so the unrounded double is bitwise-reproducible across
    // engines (the embed_normalize list_reduce precedent). One hash agg
    // on user_id (ordered collect_list partials map-side); per-user state
    // is that user's history — the same bound event_pattern_match
    // carries. Second-truncated order key: sub-µs nanos differ between
    // engines and a boundary tie must not.
    "agg_ewma" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          transform(array_sort(collect_list(struct(
            date_trunc("second", col("ts")).as("tss"),
            col("event_id"), col("value")))),
            x => x.getField("value")).as("vals"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("n_events"),
          aggregate(slice(col("vals"), lit(2), size(col("vals")) - 1),
            element_at(col("vals"), 1),
            (acc, x) => acc * lit(0.875) + x * lit(0.125)).as("ewma"))
        .orderBy("user_id")),

    // OHLC downsampling — the time-series compaction every metrics/market
    // pipeline runs: per (user, day) open/high/low/close of `value` plus
    // trade count and exact-cent turnover. One hash agg on the (user, day)
    // key, all six measures partial map-side; open/close come from ONE
    // struct-ordered min/max ((tss, event_id, value) — event_id makes the
    // order total, value never consulted) so no window or second shuffle.
    // Open/close/high/low COPY doubles (bitwise-stable); the only sum is
    // integer cents.
    "agg_ohlc" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"),
          date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
          date_trunc("second", col("ts")).as("tss"),
          col("event_id"), col("value"))
        .groupBy(col("user_id"), col("day"))
        .agg(
          min(struct(col("tss"), col("event_id"), col("value")))
            .getField("value").as("open"),
          max(struct(col("tss"), col("event_id"), col("value")))
            .getField("value").as("close"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          count(lit(1)).as("n_trades"),
          sum(round(col("value") * 100, 0).cast("long")).as("turnover_c"))
        .orderBy("user_id", "day")),

    // Exact distinct counting via MERGEABLE bitmaps (Spark 4's bitmap_*
    // family) — the scale path between count_distinct (exact, but every
    // value crosses the shuffle) and HLL (mergeable, but approximate):
    // per (group, 2^15-bucket) the ids collapse to ONE fixed-size bitmap
    // map-side, partials OR together associatively, and counts are EXACT
    // — so the key is fully oracled against count(DISTINCT), unlike the
    // HLL keys. The ALL rollup re-uses the per-type bucket bitmaps via
    // bitmap_or_agg: counting the UNION without touching raw ids again —
    // the cross-segment audience-overlap pattern.
    "agg_bitmap_distinct" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""WITH bk AS (
        |  SELECT event_type, bitmap_bucket_number(user_id) AS b,
        |         bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
        |  FROM events GROUP BY event_type, bitmap_bucket_number(user_id))
        |SELECT event_type, CAST(sum(bitmap_count(bm)) AS BIGINT) AS n_users
        |FROM bk GROUP BY event_type
        |UNION ALL
        |SELECT 'ALL' AS event_type, CAST(sum(bitmap_count(bm)) AS BIGINT)
        |FROM (SELECT b, bitmap_or_agg(bm) AS bm FROM bk GROUP BY b)
        |ORDER BY event_type""".stripMargin)
    }),

    // approx_top_k (Spark 4's frequent-items sketch) under its EXACTNESS
    // condition: with maxItemsTracked ≥ the distinct-value count the
    // sketch never evicts, so counts are exact and the key is fully
    // oracled — the same "sketch, but oracled where exact" stance as
    // agg_bitmap_distinct. The declared output re-sorts the returned
    // (item, count) structs by item so tie order inside the sketch's
    // count-sorted array can't leak into the hash. k is set EQUAL to
    // maxItemsTracked (r14, ADVICE fix): with k < capacity the output
    // cap was a second, unguarded exactness assumption — the oracle
    // enumerates ALL distinct event_types, so a corpus version with more
    // than k types would diverge in row count even while the sketch
    // stayed exact. k = capacity leaves exactly one guarded condition
    // (distinct ≤ 100 ⇒ no eviction ⇒ exact). At true 100 TB
    // cardinalities the same call with a capped size degrades gracefully
    // to the Misra-Gries guarantee (error bounded by n/capacity).
    "agg_approx_topk" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT t.item AS event_type, t.count AS n FROM (
        |  SELECT explode(approx_top_k(event_type, 100, 100)) AS t
        |  FROM events)
        |ORDER BY event_type""".stripMargin)
    }),

    // approx_top_k at REAL capacity (round 20 — r19 verdict item 4: the
    // key above runs the sketch only under its exactness condition; this
    // companion runs the regime users actually run, maxItemsTracked ≪
    // distinct). The item stream plants 3 heavy hitters (~25% of rows
    // each) over a 997-value cold tail, capacity 32 → DataSketches
    // ItemsSketch maxMapSize 64 (Spark's calMaxMapSize: next pow2 of
    // 32/0.75) → real evictions every purge. Under eviction the
    // ESTIMATES are merge-order-dependent (not deterministic across
    // partitionings), so the declared output emits what IS invariant:
    // the returned item set (the hitters tower over the tail's worst-case
    // overestimate, so top-3-by-estimate is deterministic), the EXACT
    // replayed count per item, and the frequent-items error law as an
    // oracle-pinned constant-TRUE column — n_true ≤ est ≤ n_true +
    // ⌈3.5·n/maxMapSize⌉, the published ItemsSketch guarantee (holds
    // under any merge order; the per-sketch errors are each ≤ ε·n_i and
    // sum over merges). A sketch that dropped a hitter loses the row
    // (count mismatch), one that broke the bound flips the law column —
    // both fail the driver gate. Scale: one pass builds the sketch
    // (bounded state), one exact replay joins it — at 100 TB the replay
    // runs over the 3 surviving candidates' partial counts, not the
    // tail.
    "agg_approx_topk_evict" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""WITH src AS (
        |  SELECT CASE WHEN event_id % 4 < 3
        |    THEN concat('hot_', CAST(event_id % 3 AS STRING))
        |    ELSE concat('cold_', CAST(event_id % 997 AS STRING)) END AS item
        |  FROM events),
        |sk AS (SELECT approx_top_k(item, 3, 32) AS arr, count(*) AS n
        |  FROM src),
        |est AS (SELECT t.item AS item, t.count AS est, n
        |  FROM (SELECT explode(arr) AS t, n FROM sk)),
        |tru AS (SELECT item, count(*) AS n_true FROM src GROUP BY item)
        |SELECT e.item, t.n_true,
        |  e.est >= t.n_true AND
        |  e.est <= t.n_true + CAST(ceil(3.5 * e.n / 64) AS BIGINT) AS est_ok
        |FROM est e JOIN tru t ON e.item = t.item
        |ORDER BY e.item""".stripMargin)
    }),

    "agg_retention" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .groupBy("user_id")
        .agg(min("d").as("cohort"), collect_set("d").as("ds"))
      perUser.select(col("cohort"), explode(col("ds")).as("d"))
        .select(col("cohort"), datediff(col("d"), col("cohort")).as("off"))
        .where(col("off").isin(0, 1, 7, 14, 30))
        .groupBy("cohort", "off")
        .agg(count(lit(1)).as("n_users"))
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
          col("off").cast("long").as("day_offset"), col("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // PIVOT: priorities × order statuses cross-tab. Pivot values are
    // LISTED explicitly — with them, Spark skips the extra distinct-scan
    // job AND the output schema is static (an inferred pivot would make
    // the schema data-dependent, which a declared contract query must
    // not be). A (priority, status) combo with no rows yields NULL from
    // the pivot; coalesced to 0 to match the oracle's FILTER counts.
    "agg_pivot" -> ((s, dir) =>
      Tables.table(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority").as("prio"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("prio")),

    // Batch tumbling time-window aggregation via the native `window()`
    // expression (the batch twin of stream_tumbling). Spark time windows
    // are epoch-aligned in microseconds, so the bucket start is emitted
    // as epoch SECONDS (bigint) — tz-independent on both engines.
    // Per-group state is one row per (6h bucket × type): partial-agg
    // shrinks the shuffle to the bucket count regardless of fact size.
    "agg_time_bucket" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), D.r2(sum("value")).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("bucket_s"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("bucket_s", "event_type")),

    // Linear-regression aggregate family (regr_*) — single-pass
    // moment-merging aggregates, so they partial-combine map-side like
    // sum/avg. Slope/intercept of extendedprice on quantity per flag.
    "agg_regr" -> ((s, dir) =>
      Tables.table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"),
          D.r6(regr_slope(col("l_extendedprice"), col("l_quantity")))
            .as("slope"),
          D.r6(regr_intercept(col("l_extendedprice"), col("l_quantity")))
            .as("icept"),
          D.r6(regr_r2(col("l_extendedprice"), col("l_quantity"))).as("r2"))
        .orderBy("l_returnflag")),

    // A/B experiment readout (round 16) — Welch's unequal-variance
    // t-test, the statistic every experimentation platform computes per
    // metric at readout (dq_anomaly_volume z-scores a stream against its
    // own history; this compares two concurrent ARMS). Assignment =
    // user_id % 2 (deterministic, the hash-split every real platform
    // uses); per (event_type, arm) the ONLY aggregates are exact integer
    // cent sums (n, Σx, Σx²) pivoted into one row via sum(when) — so the
    // corpus pass is a single two-phase HashAggregate and every double
    // op (means, Welch variance, t, Welch–Satterthwaite dof) happens
    // ONCE per output row, written with identical association in the
    // oracle (the dq_anomaly_volume posture: exact ints in, one IEEE
    // expression out, round 6dp). s1·s1 is computed in DOUBLE (cast
    // before multiply): at ~5e10 summed cents a long square would
    // overflow; the double product is inexact past 2^53 but IDENTICALLY
    // inexact in both engines — determinism needs identity, not
    // exactness. The Σx/Σx² accumulators are DECIMAL(38,0): a long
    // Σ(c²) overflows at ~3.8e9 rows per type (c² ≈ 2.4e9 at max cents)
    // — inside the design envelope — while decimal keeps the sum an
    // exact associative integer to ~1e28 rows (the DuckDB side sums in
    // HUGEINT; both convert the identical exact integer to double once,
    // a uniquely-defined rounding, so the derived stats still hash).
    // Scale: one scan, one |types|-row shuffle.
    "agg_ab_ttest" -> ((s, dir) => {
      val g = abEvents(s, dir)
        .groupBy("event_type")
        .agg(
          count(when(col("a"), 1)).as("n0"),
          sum(when(col("a"), dec38(col("c")))).as("s10"),
          sum(when(col("a"), dec38(col("c") * col("c")))).as("s20"),
          count(when(!col("a"), 1)).as("n1"),
          sum(when(!col("a"), dec38(col("c")))).as("s11"),
          sum(when(!col("a"), dec38(col("c") * col("c")))).as("s21"))
      def mean(s1: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
        s1.cast("double") / n
      def variance(s2: org.apache.spark.sql.Column, s1: org.apache.spark.sql.Column,
          n: org.apache.spark.sql.Column) =
        (s2.cast("double") -
          s1.cast("double") * s1.cast("double") / n) / (n - 1)
      val v0 = variance(col("s20"), col("s10"), col("n0"))
      val v1 = variance(col("s21"), col("s11"), col("n1"))
      val se0 = v0 / col("n0")
      val se1 = v1 / col("n1")
      val t = (mean(col("s10"), col("n0")) - mean(col("s11"), col("n1"))) /
        sqrt(se0 + se1)
      val dof = (se0 + se1) * (se0 + se1) /
        (se0 * se0 / (col("n0") - 1) + se1 * se1 / (col("n1") - 1))
      // degenerate guard, mirroring agg_mann_whitney: an arm with n≤1
      // makes the Welch variance 0/0 and all-constant arms make the t
      // denominator sqrt(0) — Spark (x/0 → NULL) and DuckDB (IEEE
      // NaN/Inf, with NaN ordering above every value) would DIVERGE on
      // `significant`, so t, dof, and the flag are NULL-gated
      // identically in both engines (r16 ADVICE)
      val ok = col("n0") > 1 && col("n1") > 1 && (se0 + se1) > 0
      val tg = when(ok, round(t, 6))
      g.select(col("event_type"), col("n0"), col("n1"),
          round(mean(col("s10"), col("n0")) / 100, 6).as("mean_a"),
          round(mean(col("s11"), col("n1")) / 100, 6).as("mean_b"),
          tg.as("t_stat"),
          when(ok, round(dof, 6)).as("dof"),
          (abs(tg) >= 1.96).as("significant"))
        .orderBy("event_type")
    }),

    // Mann–Whitney U (round 16) — the NONPARAMETRIC sibling of
    // agg_ab_ttest's Welch test: rank-based, so it reads a heavy-tailed
    // metric (exactly what event values are) without the normality
    // assumption the t-test leans on. The scale trick is the whole
    // point of this key: ranks are NOT computed by sorting rows — the
    // per-(type, arm) VALUE HISTOGRAM is aggregated first (distinct
    // cents ≤ 49k rows per type at ANY corpus size), and tie-averaged
    // ranks fall out of the cumulative count: values at a distinct cent
    // occupy ranks C_prev+1 .. C_prev+c, so 2·avgrank = 2·C_prev + c + 1
    // — an exact integer ("doubled ranks" keep the ½-granularity of tie
    // averages in integer space). 2·R₀ = Σ n0_v·(2C_prev+c+1) and the
    // tie term Σ(c³−c) accumulate in DECIMAL(38,0) (per-row cubes and
    // products cast BEFORE multiplying — a long c³ overflows at c ≳ 2M
    // rows per value); U, the tie-corrected normal approximation z, and
    // the |z| ≥ 1.96 flag are one double expression each, identical
    // association in the oracle. Degenerate groups (an empty arm, a
    // single row, or every value tied — where the z denominator is 0 or
    // the tie term divides by 0) emit z = NULL under an explicit guard:
    // Spark turns double x/0 into NULL while DuckDB yields ±Inf/NaN, so
    // an unguarded degenerate group would DIVERGE between engines (r16
    // review; unreachable on the current corpus, reachable on any
    // regenerated one with a rare event_type). Scale: one corpus pass
    // into the histogram, a cumulative window over the BOUNDED
    // distinct-value relation, a |types|-row report.
    "agg_mann_whitney" -> ((s, dir) => {
      val hist = abEvents(s, dir)
        .groupBy("event_type", "c")
        .agg(count(when(col("a"), 1)).as("n0v"),
          count(when(!col("a"), 1)).as("n1v"))
      val w = Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = hist
        .withColumn("cv", col("n0v") + col("n1v"))
        .withColumn("cprev", coalesce(sum(col("cv")).over(w), lit(0L)))
        .withColumn("dr", lit(2L) * col("cprev") + col("cv") + 1L)
      val g = ranked.groupBy("event_type").agg(
        sum(col("n0v")).as("n0"), sum(col("n1v")).as("n1"),
        sum(dec38(col("n0v")) * col("dr")).as("r2x0"),
        sum(dec38(col("cv")) * col("cv") * col("cv") - col("cv")).as("ties"))
      val n = col("n0") + col("n1")
      val u0 = (col("r2x0").cast("double") -
        col("n0").cast("double") * (col("n0") + 1)) / 2
      val m = col("n0").cast("double") * col("n1")
      // non-degenerate ⇔ both arms populated, ≥2 rows, values not all
      // tied (ties = n³−n exactly when one value holds everything)
      val ok = m > 0 && n > 1 &&
        col("ties").cast("double") <
          n.cast("double") * (n + 1) * (n - 1)
      val vr = m / 12 * ((n + 1) -
        col("ties").cast("double") / (n.cast("double") * (n - 1)))
      val z = when(ok, round((u0 - m / 2) / sqrt(vr), 6))
      g.select(col("event_type"), col("n0"), col("n1"),
          u0.as("u"), z.as("z"),
          (abs(z) >= 1.96).as("significant"))
        .orderBy("event_type")
    }),

    // Chi-square independence test (round 17) — the CATEGORICAL member
    // of the experimentation triad (agg_ab_ttest reads a continuous
    // metric, agg_mann_whitney its rank form; this reads a CONVERSION
    // FLAG — the readout every growth experiment actually ships).
    // Assignment = the shared abEvents user_id % 2 split; conversion =
    // value ≥ $50 (c ≥ 5000 exact cents — a fixed contract threshold,
    // ~40% base rate on this corpus). Per event_type the 2×2 table
    // (ca..cd) is ONE two-phase HashAggregate of four filtered counts;
    // χ² = N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) with ad−bc computed in
    // DECIMAL(38,0) (a long product overflows at ~3e9 rows/arm; DuckDB
    // mirrors in HUGEINT) and ONE double expression thereafter, written
    // with identical association in the oracle. Degenerate tables (any
    // zero margin → 0/0) NULL-gate χ² and the flag under the same ok
    // guard both engines evaluate (the agg_ab_ttest hardening).
    // Scale: one scan, one |types|-row shuffle.
    "agg_chi_square" -> ((s, dir) => {
      val g = abEvents(s, dir)
        .select(col("event_type"), col("a"), (col("c") >= 5000).as("cv"))
        .groupBy("event_type")
        .agg(
          count(when(col("a") && col("cv"), 1)).as("ca"),
          count(when(col("a") && !col("cv"), 1)).as("cb"),
          count(when(!col("a") && col("cv"), 1)).as("cc"),
          count(when(!col("a") && !col("cv"), 1)).as("cd"))
      val nn = col("ca") + col("cb") + col("cc") + col("cd")
      val det = dec38(col("ca")) * col("cd") - dec38(col("cb")) * col("cc")
      val m1 = (col("ca") + col("cb")).cast("double")
      val m2 = (col("cc") + col("cd")).cast("double")
      val m3 = (col("ca") + col("cc")).cast("double")
      val m4 = (col("cb") + col("cd")).cast("double")
      val ok = m1 > 0 && m2 > 0 && m3 > 0 && m4 > 0
      val chi = nn.cast("double") * det.cast("double") * det.cast("double") /
        m1 / m2 / m3 / m4
      val chig = when(ok, round(chi, 6))
      g.select(col("event_type"), col("ca"), col("cb"), col("cc"), col("cd"),
          chig.as("chi2"), (chig >= 3.841).as("significant"))
        .orderBy("event_type")
    }),

    // Count-Min sketch (round 17) — the FREQUENCY sketch the family
    // lacked (HLL = distinct, GK = quantiles, bitmap = exact distinct,
    // top-k = space-saving; CMS answers "how often does key x occur"
    // in O(d·w) space with one-sided error). d = 4 hash rows × w = 256
    // buckets; the bucket is the first 2 hex chars of md5("d:user_id") —
    // the engine-portable draw family every replayable key here uses.
    // The declared readout estimates the 10 heaviest users (derived by
    // exact count — nothing to go stale) against their true counts,
    // with the one-sided-error law (est ≥ exact, emitted as overcount)
    // visible in the output. Scale: the counter build is a 4× map-side
    // explode into a 1024-key two-phase HashAggregate — the mergeable-
    // sketch shape (counters add across partitions/days); the probe side
    // is 40 broadcast rows. The exact top-10 derivation scans once more
    // at test scale; in production the probe list arrives from outside
    // the sketch — the sketch itself never needs it.
    "agg_count_min" -> ((s, dir) => {
      def bh(d: org.apache.spark.sql.Column) = substring(md5(
        concat(d.cast("string"), lit(":"), col("user_id").cast("string"))
          .cast("binary")), 1, 2)
      // ONE per-user rollup feeds both the counters and the exact top-10
      // (r21, guide §2.4): the previous form scanned events twice (4×
      // corpus-row explode for the counters + a second scan for the
      // exact counts); bucket counts are Σ over users of their exact
      // counts, so the explode now runs over the user-sized relation and
      // the sketch values are integer-identical.
      // LAZY localCheckpoint barrier: uc feeds both the counters and the
      // top-10 — two references would re-scan and re-aggregate events
      // twice under static planning (q21 rescan class, r21)
      val uc = Tables.events(s, dir).select(col("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .localCheckpoint(false)
      val counters = uc
        .withColumn("d", explode(sequence(lit(0), lit(3))))
        .withColumn("bh", bh(col("d")))
        .groupBy("d", "bh").agg(sum("n").as("cnt"))
      val top = uc.select(col("user_id"), col("n").as("exact_n"))
        .orderBy(col("exact_n").desc, col("user_id")).limit(10)
      val probes = top
        .withColumn("d", explode(sequence(lit(0), lit(3))))
        .withColumn("bh", bh(col("d")))
      probes.join(counters, Seq("d", "bh"))
        .groupBy("user_id", "exact_n").agg(min(col("cnt")).as("cms_est"))
        .select(col("user_id"), col("exact_n"), col("cms_est"),
          (col("cms_est") - col("exact_n")).as("overcount"))
        .orderBy(col("exact_n").desc, col("user_id"))
    }),

    // Poisson-bootstrap confidence interval (round 17) — the fourth
    // member of the experimentation family: the t-test/MW/χ² keys all
    // lean on distributional assumptions; the bootstrap is the
    // assumption-free CI a metrics platform publishes next to every
    // mean. The classic resample-with-replacement doesn't distribute
    // (it needs global row indices); the POISSON bootstrap does — each
    // row independently enters resample b with weight w ~ Poisson(1),
    // which is exactly how the large-scale A/B platforms run it. Here w
    // is DETERMINISTIC: an md5 content draw per (event_id, b) mapped
    // through the Poisson(1) inverse CDF as fixed-width-hex threshold
    // compares (PoissonThr — replayable in DuckDB byte-for-byte, the
    // sample_weighted idiom). B = 16 resamples; per (type, b) the
    // resample mean uses exact integer accumulators (Σw·c widened to
    // decimal(38,0) — long overflows at ~5e11 rows/type at max cents;
    // the oracle sums in HUGEINT); the CI is the 2nd/15th order
    // statistic of the 16 means (87.5% coverage), picked from a
    // VALUE-sorted array (engine-order-free, the text_entropy posture).
    // A resample with all-zero weights (possible on a tiny regenerated
    // type) NULLs its mean; both engines then drop it before sorting
    // and NULL-gate the CI unless all 16 survive. Scale: the explode is
    // map-side (16× rows into a two-phase HashAggregate, |types|·16
    // partials out); nothing else grows with the corpus.
    "agg_bootstrap_ci" -> ((s, dir) => {
      val base = abEvents(s, dir)
      val u8 = substring(md5(concat(col("event_id").cast("string"),
        lit(":"), col("b").cast("string")).cast("binary")), 1, 8)
      val w = PoissonThr.zipWithIndex
        .foldLeft(when(lit(false), lit(0))) { case (acc, (t, k)) =>
          acc.when(u8 < lit(t), lit(k))
        }.otherwise(lit(PoissonThr.size))
      // ONE events pass (r22, guide §2.4; the plan sweep showed events
      // scanned twice): the exact stats (n, Σc) previously ran as a
      // separate scan leg. Every base row contributes exactly one b=1
      // replicate row, so n and Σc ride the bootstrap aggregate as the
      // b=1 slice's count/sum — integer/decimal-exact, same values.
      val boot = base
        .withColumn("b", explode(sequence(lit(1), lit(16))))
        .withColumn("w", w)
        .groupBy("event_type", "b")
        .agg(sum(col("w")).as("sw"), sum(dec38(col("w") * col("c"))).as("swc"),
          count(lit(1)).as("nb"), sum(dec38(col("c"))).as("scb"))
        .select(col("event_type"), col("b"), col("nb"), col("scb"),
          when(col("sw") > 0, col("swc").cast("double") /
            col("sw").cast("double") / 100).as("m"))
        .groupBy("event_type")
        .agg(array_sort(collect_list(col("m"))).as("ms"),
          max(when(col("b") === 1, col("nb"))).as("n"),
          max(when(col("b") === 1, col("scb"))).as("sc"))
      boot
        .select(col("event_type"), col("n"),
          round(col("sc").cast("double") / col("n").cast("double") / 100, 6)
            .as("mean"),
          when(size(col("ms")) === 16,
            round(element_at(col("ms"), 2), 6)).as("ci_lo"),
          when(size(col("ms")) === 16,
            round(element_at(col("ms"), 15), 6)).as("ci_hi"))
        .orderBy("event_type")
    }),

    // Fixed-width histogram: width_bucket + count per bin. Bin width is
    // (600000-0)/24 = 25000 EXACTLY representable, so Spark's
    // (v-min)/((max-min)/n) and the oracle's floor(v/25000) are the same
    // double op (DuckDB has no width_bucket — the oracle spells out the
    // arithmetic, including the 0 / n+1 out-of-range sentinel bins).
    "agg_histogram" -> ((s, dir) =>
      Tables.table(s, dir, "orders")
        .select(width_bucket(col("o_totalprice"), lit(0.0), lit(600000.0),
          lit(24L)).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // UNPIVOT (melt): wide per-priority metrics back to long
    // (prio, metric, v) rows — the inverse surface of agg_pivot. The
    // Expand happens AFTER aggregation (5 groups × 3 metrics), so the
    // 3× row expansion never touches fact-table-sized data.
    "agg_unpivot" -> ((s, dir) =>
      Tables.table(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(D.r2(sum("o_totalprice")).as("sum_total"),
          D.r2(avg("o_totalprice")).as("avg_total"),
          D.r2(max(col("o_totalprice"))).as("max_total"))
        .unpivot(Array(col("prio")),
          Array(col("sum_total"), col("avg_total"), col("max_total")),
          "metric", "v")
        .orderBy("prio", "metric")),

    // Mergeable-sketch rollup (Datasketches HLL): per-(type, day) user
    // sketches unioned into per-type distinct estimates. THE 100 TB
    // pattern: the fact table is pre-reduced once to per-partition
    // sketch rows (bytes each), and any later rollup re-merges sketches
    // instead of rescanning the fact — union is register-wise max, so
    // it is order-insensitive and losslessly associative. No DuckDB
    // oracle (sketch binaries are library-specific); HllMergeSpec
    // asserts the estimate tracks exact distincts and that the two-level
    // rollup stays within HLL tolerance of the single-pass sketch.
    // ORACLED since r15 via the agg_approx_distinct contract pattern: the
    // merged-sketch estimate itself is engine-specific (DataSketches HLL
    // bytes), so the key emits the exact count + within_5pct — with the
    // default lgConfigK=12 (4096 buckets, σ ≈ 1.6%) the 5% contract is a
    // ~3σ bound, and a drifting sketch/merge implementation fails the
    // DRIVER gate. The per-day sketch → union merge IS the point (the
    // mergeable-sketch rollup pattern); the exact side rides a second
    // aggregate over the same scan for verification only.
    "agg_hll_merge" -> ((s, dir) => {
      // r22, evaluated and REJECTED (left visible on purpose): deriving
      // both legs from a barrier'd distinct (type, day, user) triple —
      // the agg_hll_intersect single-scan pattern — saves the second
      // events scan but REPLACES two map-side-partial aggregates (tiny
      // shuffles: per-(type,day) sketches; countDistinct's partial
      // distinct) with an explicit corpus-scale distinct shuffle PLUS a
      // localCheckpoint of that triple relation, which is events-sized
      // in the worst case — exactly the relation class the barrier
      // discipline excludes. Measured 0.164 → 0.410 s in-suite at
      // FASTER calib (r22 wave 2); reverted to the two-scan form, whose
      // scans both feed map-side partials — the right shape at 100 TB.
      val ev = Tables.events(s, dir).select(col("event_type"),
        col("ts"), col("user_id"))
      val est = ev
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"),
          (abs(col("est_users").cast("double") /
            col("n_exact").cast("double") - 1.0) <= 0.05).as("within_5pct"))
        .orderBy("event_type")
    }),

    // Gini concentration (round 17; rank rewritten round 18) — the
    // Lorenz-curve inequality coefficient per market segment over
    // customer spend: the "whale-dependence" readout every revenue
    // review slides next to the totals (G→0 even spend, G→1 one
    // customer carries the segment). Closed form over the spend-sorted
    // ranking: G = Σ(2i − n − 1)·x_i / (n·Σx). The rank weights are
    // tie-order-insensitive, so ranks are NOT computed by sorting
    // customers — a per-segment row_number window would sort the whole
    // customer relation on |segments| = 5 tasks, the classic
    // few-partition scale killer (r17 verdict). Instead the
    // agg_mann_whitney histogram-rank identity: a tie block at spend v
    // with c customers and C predecessors contributes exactly
    // x_v·c·(2C + c − n), so num = Σ_v x_v·c_v·(2C_v + c_v) − n·Σx —
    // the same integer the sorted form produces, which is why the
    // row_number oracle below still hash-matches. C_v comes from a
    // TWO-LEVEL prefix sum (the distributed-ranking decomposition):
    // coarse $10k buckets (cents DIV 1e6 — integral division, monotone
    // in cents) give a per-(segment, bucket) count relation BOUNDED by
    // the spend envelope, its per-segment prefix window sorts only
    // that bounded relation, and the residual prefix runs partitioned
    // by (segment, bucket) — thousands of independent partitions whose
    // size shrinks as buckets fill, never 5 fact-scale sorts. All
    // integer terms accumulate in DECIMAL(38,0) (c·C·cents crosses
    // int64 at ~1e9 customers × $10M spend — the envelope class;
    // DuckDB sums in HUGEINT); ONE double division at the end, with
    // the identical association as before the rewrite. Scale: one
    // orders pass into the (segment, customer) aggregate, one hash
    // shuffle into the spend histogram, a broadcast of the bounded
    // bucket-prefix relation, and only (segment) rows come back.
    "agg_gini" -> ((s, dir) => {
      // the spend histogram feeds BOTH prefix branches (bucket totals
      // and within-bucket residuals) — staged per corpus version so the
      // expensive orders⋈customer spend pass runs once, not once per
      // consumer branch (static planning does not reuse the shared
      // subtree; measured 2× at sf0.1 unstaged — the q21 rescan class).
      // The artifact embeds customer.c_mktsegment, so the CUSTOMER
      // fingerprint folds into the name (r18 ADVICE): keyed on orders
      // alone, a customer-table regeneration would serve a stale
      // segment mapping.
      val custFp = Tables.sourceFingerprint(Tables.path(dir, "customer"))
      // GC superseded sibling artifacts (prior customer fingerprints —
      // their outer orders key stays live, so only this name-prefix
      // sweep can reclaim them; r19 ADVICE)
      graft.Staging.retireSiblings(Tables.path(dir, "orders"),
        "gini_spend_hist_c", s"gini_spend_hist_c${custFp}_v1")
      val hist = graft.Staging.materialize(
        s, Tables.path(dir, "orders"), s"gini_spend_hist_c${custFp}_v1") {
        Tables.table(s, dir, "orders")
          .join(Tables.table(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("segment"), col("c_custkey"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .as("cents"))
          .groupBy(col("segment"), col("cents"))
          .agg(count(lit(1)).as("cv"))
          .withColumn("b", expr("cents DIV 1000000"))
      }
      val wb = Window.partitionBy("segment").orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bpre = hist.groupBy("segment", "b")
        .agg(sum(col("cv")).as("cb"))
        .withColumn("cbprev", coalesce(sum(col("cb")).over(wb), lit(0L)))
        .select(col("segment"), col("b"), col("cbprev"))
      val ww = Window.partitionBy("segment", "b").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = hist
        .withColumn("cwprev", coalesce(sum(col("cv")).over(ww), lit(0L)))
        .join(broadcast(bpre), Seq("segment", "b"))
        .withColumn("cprev", col("cbprev") + col("cwprev"))
      ranked.groupBy("segment")
        .agg(sum(col("cv")).as("n_cust"),
          sum(dec38(col("cents")) * col("cv")).as("tot"),
          sum(dec38(lit(2L) * col("cprev") + col("cv")) * col("cv") *
            col("cents")).as("pnum"))
        .select(col("segment"), col("n_cust"),
          col("tot").cast("long").as("total_cents"),
          round((col("pnum") - dec38(col("n_cust")) * col("tot"))
            .cast("double") /
            (col("n_cust").cast("double") * col("tot").cast("double")), 6)
            .as("gini"))
        .orderBy("segment")
    }),

    // Markov transition matrix (round 18) — the user-journey model
    // underneath funnel/retention readouts: P(next event = j | current
    // = i) over each user's chronologically ordered stream, the input
    // to next-action prediction, journey simulation, and "where do
    // users go after an error" questions no fixed funnel answers.
    // Consecutive pairs come from ONE lead() window per user
    // (second-truncated ts + event_id total order — the win_lag_lead
    // posture; per-user partitions, corpus-parallel); counts are exact
    // integers, row-normalized over the |types|² ≤ 25-row matrix via a
    // bounded window, ONE rounded division per cell. Scale: one
    // user-keyed window shuffle, a 25-row report.
    "agg_markov_transition" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("tss"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          date_trunc("second", col("ts")).as("tss"), col("event_id"))
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
        .where(col("nxt").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("nxt").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val wt = Window.partitionBy("from_type")
      pairs
        .withColumn("tot", sum(col("n")).over(wt))
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("tot").cast("double"), 6)
            .as("p"))
        .orderBy("from_type", "to_type")
    }),

    // Market-basket pair mining (round 18) — association rules over
    // what is bought TOGETHER: for each co-ordered part pair, support
    // (orders carrying both), confidence (n_ab/n_a), and lift
    // (n_ab·N/(n_a·n_b) — >1 means the pair travels together more than
    // chance), the recommender/assortment primitive. Pair generation is
    // bounded by the per-order line count (≤7 lines in this schema →
    // ≤21 pairs per order — NEVER a parts×parts product): distinct
    // (order, part) self-joined on o_orderkey with a < b, a real
    // equi-key join. The report is top-20 pairs by (support, pair id)
    // — a TakeOrderedAndProject, not a global sort — and the per-part
    // counts and lift arithmetic join onto ONLY those 20 survivors
    // (broadcast). Exact integer counts; lift/confidence are one
    // rounded division each (n_ab·N in DECIMAL(38,0) — crosses int64
    // at ~3e9 orders both sides).
    "agg_basket_pairs" -> ((s, dir) => {
      // the per-order sorted item-set relation feeds all three legs
      // (pair mass, per-part counts, the order total) — staged per
      // corpus version so the fact scan + distinct run ONCE, not once
      // per consumer branch (the plan sweep flagged lineitem×3 on the
      // self-join form; the q21 rescan class). Pairs then explode
      // map-side from each array (i < j ⇒ a < b after the sort) —
      // bounded by the per-order line count exactly like the join form.
      val items = graft.Staging.materialize(
        s, Tables.path(dir, "lineitem"), "basket_items_v1") {
        Tables.table(s, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct()
          .groupBy("o").agg(array_sort(collect_set(col("p"))).as("ps"))
      }
      val pairs = items
        .select(posexplode(col("ps")).as(Seq("i", "a")), col("ps"))
        .select(col("a"),
          explode(slice(col("ps"), col("i") + 2,
            size(col("ps")))).as("b"))
        .groupBy(col("a").as("part_a"), col("b").as("part_b"))
        .agg(count(lit(1)).as("n_ab"))
        .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
        .limit(20)
      val pc = items.select(explode(col("ps")).as("p"))
        .groupBy(col("p")).agg(count(lit(1)).as("np"))
      val n = items.agg(count(lit(1)).as("n_orders"))
      pairs
        .join(pc.select(col("p").as("part_a"), col("np").as("n_a")),
          "part_a")
        .join(pc.select(col("p").as("part_b"), col("np").as("n_b")),
          "part_b")
        .crossJoin(broadcast(n))
        .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"),
          col("n_b"),
          round(col("n_ab").cast("double") / col("n_a").cast("double"), 6)
            .as("confidence"),
          round((dec38(col("n_ab")) * col("n_orders")).cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 6)
            .as("lift"))
        .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
    }),

    // Herfindahl–Hirschman concentration (round 18) — the antitrust /
    // revenue-concentration index next to agg_gini's Lorenz coefficient:
    // HHI = Σ s_i² over customer spend shares per segment (1/n even
    // market → 1 monopoly; the DOJ's merger-review statistic, and the
    // "how many customers could we lose" readout). Pure two-level
    // aggregate — no ranking at all, which is the point of declaring it
    // next to gini: HHI = Σ cents_i² / (Σ cents)², both sums exact in
    // DECIMAL(38,0) (cents² crosses int64 at ~$43M customer spend;
    // squares sum to <1e26 at 1e9 customers — inside decimal; DuckDB
    // HUGEINT), the square of the total taken in DOUBLE (it would cross
    // 1e38 only past ~1e10 exabyte-spend corpora, and the final ratio
    // is IEEE either way). top_share = the largest single customer's
    // share, the companion number every concentration review quotes.
    // Scale: orders pass → (segment, customer) aggregate → |segments|
    // rows; both shuffles hash on real keys, nothing sorts.
    "agg_hhi" -> ((s, dir) => {
      val spend = Tables.table(s, dir, "orders")
        .join(Tables.table(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"), col("c_custkey"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("cents"))
      val tot = col("tot").cast("double")
      spend.groupBy("segment")
        .agg(count(lit(1)).as("n_cust"),
          sum(dec38(col("cents"))).as("tot"),
          sum(dec38(col("cents")) * col("cents")).as("sq"),
          max(col("cents")).as("mx"))
        .select(col("segment"), col("n_cust"),
          col("tot").cast("long").as("total_cents"),
          round(col("sq").cast("double") / (tot * tot), 6).as("hhi"),
          round(col("mx").cast("double") / tot, 6).as("top_share"))
        .orderBy("segment")
    }),

    // Kaplan–Meier survival (round 17) — the product-limit estimator
    // behind every time-to-event curve: here TIME TO FIRST HIGH-VALUE
    // CONVERSION (first purchase ≥ $200, exact cents ≥ 20000), t =
    // days(first event → conversion); users who never convert are
    // RIGHT-CENSORED at their last observed day — they haven't "not
    // converted", they ran out of observation window, and ignoring that
    // is the classic bias this estimator exists to fix (an
    // end-of-activity churn rule would censor EVERY user of this
    // always-active synthetic corpus — probed; conversion gives real
    // deaths AND real censoring at every SF: 4/15, 32/150, 297/1500).
    // S(t) = Π_{t_j ≤ t} (1 − d_j/n_j) over conversion times,
    // with censored users leaving the risk set after their t. Exact
    // integer plumbing end-to-end: per-duration death/total counts, the
    // at-risk suffix via an INTEGER running window (the win_cusum
    // integer-window posture — a double cumsum would be association-
    // sensitive); the survival products are per-row LEFT FOLDS over the
    // one collected death-time array (bounded by |days| — the IVF-
    // centroid bounded-collect class), so every S(t_i) is an
    // independent identically-ordered fold in both engines (O(k²)
    // multiplications over k ≤ |days| rows — trivial; a windowed double
    // product would not replay). Scale: one corpus pass to per-user
    // (first, last), one |durations|-key aggregate, calendar-bounded
    // everything after.
    "agg_survival_km" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type"), round(col("value") * 100, 0).cast("long")
            .as("c"))
      val life = ev.groupBy("user_id")
        .agg(min(col("day")).as("f"), max(col("day")).as("l"),
          min(when(col("event_type") === "purchase" &&
            col("c") >= 20000, col("day"))).as("cd"))
      val u = life.select(
        datediff(coalesce(col("cd"), col("l")), col("f")).as("t"),
        col("cd").isNull.as("cens"))
      val byT = u.groupBy("t")
        .agg(count(when(!col("cens"), 1)).as("d"), count(lit(1)).as("m"))
      // n_total = Σ m over byT — ride a full-frame window over the SAME
      // bounded (distinct-lifetime-sized, calendar-capped) sort the
      // prefix frame already pays, instead of a second events→lifetimes
      // pass feeding a crossJoin (r22, guide §2.4; the plan sweep showed
      // events scanned twice: u fed both byT and the 1-row total).
      val w = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val risk = byT
        .withColumn("n_total", sum(col("m")).over(wAll))
        .withColumn("n_risk",
          col("n_total") - coalesce(sum(col("m")).over(w), lit(0L)))
        .where(col("d") > 0)
      val arr = risk.agg(array_sort(collect_list(
        struct(col("t"), col("d"), col("n_risk")))).as("a"))
      arr.select(posexplode(col("a")).as(Seq("i", "x")), col("a"))
        .select(col("x.t").as("t"), col("x.n_risk").as("n_risk"),
          col("x.d").as("deaths"),
          round(aggregate(slice(col("a"), lit(1), col("i") + 1), lit(1.0),
            (acc, y) => acc * (lit(1.0) -
              y("d").cast("double") / y("n_risk").cast("double"))), 6)
            .as("s"))
        .orderBy("t")
    }),

    // HLL sketch INTERSECTION (round 17) — audience overlap, the
    // question sketch stores get asked second ("how many users did BOTH
    // X and Y") and the one HLL cannot answer directly: intersections
    // come by inclusion-exclusion, est(A) + est(B) − est(A∪B), over the
    // SAME mergeable per-type sketches agg_hll_merge maintains — the
    // whole point of keeping sketches instead of exact sets is that
    // every pairwise overlap then costs |types|² sketch-merges, not
    // |types|² corpus passes. Per unordered type pair: the exact
    // overlap (count of users present in both — the distinct (user,
    // type) self-join fans out ≤ |types|²/row, bounded) plus the
    // contract flag |est − exact| ≤ 0.1·(|A|+|B|) + 50 — the slack
    // scales with the AUDIENCE sizes, because inclusion-exclusion
    // error compounds the three sketches' errors and each is relative
    // to ITS set's cardinality, not the (possibly tiny) intersection
    // (r17 review: an intersection-relative bound reads false whenever
    // big audiences barely overlap); the +50 absolute slack covers
    // sub-sketch-resolution corpora. Estimates stay out of the output
    // (engine-specific), the agg_hll_merge posture.
    "agg_hll_intersect" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("event_type", "user_id")
      // ONE events pass (r22, guide §2.4 — the q21 rescan class): ut
      // previously fed three plan references (sizes + both exact-join
      // legs) and ev a fourth (the sketch agg), re-running the events
      // scan + distinct per reference. LAZY barrier on ut; the sketches
      // now build FROM ut — exact, not an approximation change: HLL
      // updates are idempotent (a duplicate (user,type) maps to the same
      // coupon/register), so the sketch of the distinct pairs is the
      // sketch of the raw stream. sk gets its own |types|-row barrier so
      // the a×b self-join doesn't re-run the sketch aggregate per leg.
      val ut = ev.distinct().localCheckpoint(false)
      val sk = ut.groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .localCheckpoint(false)
      val est = sk.as("a").join(sk.as("b"),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"),
          (hll_sketch_estimate(col("a.sk")) +
            hll_sketch_estimate(col("b.sk")) -
            hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk"))))
            .as("est"))
      val sizes = ut.groupBy("event_type").agg(count(lit(1)).as("nt"))
      val exact = ut.as("x").join(ut.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_exact"))
      val slack = (col("na") + col("nb")).cast("double") * 0.1 + 50
      exact.join(est, Seq("type_a", "type_b"))
        .join(broadcast(sizes.withColumnsRenamed(
          Map("event_type" -> "type_a", "nt" -> "na"))), "type_a")
        .join(broadcast(sizes.withColumnsRenamed(
          Map("event_type" -> "type_b", "nt" -> "nb"))), "type_b")
        .select(col("type_a"), col("type_b"), col("n_exact"),
          (abs(col("est") - col("n_exact").cast("double")) <= slack)
            .as("within_bound"))
        .orderBy("type_a", "type_b")
    }),

    // Mergeable QUANTILE sketch (Greenwald-Khanna summaries): the exact
    // `agg_median_percentile` twin that survives 100 TB — exact
    // percentiles buffer every value per group; the GK summary is a
    // bounded partial-aggregate merged map-side.
    // ORACLED since r15 under GK's own DETERMINISTIC guarantee (stronger
    // than the HLL keys' 3σ contracts): accuracy a bounds the RANK error
    // by ⌈n/a⌉, unconditionally. The key now runs REAL compression
    // (accuracy 100 — the r7 declaration ducked it with accuracy >
    // per-group n, leaving the approximation path spec-only) and emits,
    // per status and quantile, whether the estimate's exact-rank interval
    // [count(< est), count(≤ est)] intersects [qn − n/a − 1, qn + n/a + 1]
    // (±1 absorbs the ⌈⌉ convention at tiny test groups where n/a < 1).
    // The estimates themselves are engine-specific under compression and
    // stay out of the output; ApproxQuantileSpec still pins value-level
    // behavior. Shape: sketch agg → broadcast the |statuses|-row
    // estimates back → one conditional-count aggregate.
    "agg_approx_quantile" -> ((s, dir) => {
      val Acc = 100
      val o = Tables.table(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_totalprice"))
      val qs = percentile_approx(col("o_totalprice"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(Acc))
      val est = o.groupBy("o_orderstatus").agg(qs.as("qs"))
      val ranked = o.join(broadcast(est), "o_orderstatus")
      val aggs = (1 to 3).flatMap { k => Seq(
        sum(when(col("o_totalprice") < element_at(col("qs"), k), 1L)
          .otherwise(0L)).as(s"lt_$k"),
        sum(when(col("o_totalprice") <= element_at(col("qs"), k), 1L)
          .otherwise(0L)).as(s"le_$k"))
      } :+ count(lit(1)).as("n")
      val qTargets = Seq(0.5, 0.9, 0.99)
      val checks = (1 to 3).map { k =>
        val qn = lit(qTargets(k - 1)) * col("n")
        val eps = col("n").cast("double") / Acc + 1.0
        ((col(s"lt_$k") <= qn + eps) && (col(s"le_$k") >= qn - eps))
          .as(s"q${(qTargets(k - 1) * 100).toInt}_ok")
      }
      ranked.groupBy("o_orderstatus")
        .agg(aggs.head, aggs.tail: _*)
        .select(col("o_orderstatus") +: col("n") +: checks: _*)
        .orderBy("o_orderstatus")
    }),

    // arg-max/arg-min: "which key holds the extreme" — single-pass keyed
    // max_by/min_by (map-side partial), replacing the window-rank idiom
    // for top-1 lookups. The ordering key is a STRUCT (price, orderkey):
    // lexicographic struct comparison gives an exact, overflow-free
    // tiebreak at any scale (an earlier integer-packed key had a silent
    // collision bound once orderkeys outgrow the packed slot). DuckDB's
    // arg_max can't take a struct ordering key, so the oracle spells the
    // same selection as row_number windows.
    "agg_minmax_by" -> ((s, dir) => {
      val okey = struct(col("o_totalprice"), col("o_orderkey"))
      Tables.table(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(max_by(col("o_orderkey"), okey).as("key_of_max"),
             min_by(col("o_orderkey"), okey).as("key_of_min"),
             D.r2(max(col("o_totalprice"))).as("max_price"),
             D.r2(min(col("o_totalprice"))).as("min_price"))
        .orderBy("o_orderstatus")
    }),

    // Ordered string aggregation (LISTAGG … WITHIN GROUP): the report/
    // export shape. The WITHIN GROUP order is (priority, orderkey) —
    // total, so the concatenation is deterministic. SQL text: the
    // ordered form is SQL-defined (Spark 4 listagg). Integral key
    // predicate bounds per-group string size; listagg is inherently
    // bounded-group-output work (a group's string materializes on one
    // task) — at 100 TB you cap or bucket groups, same as collect_list.
    "agg_listagg" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderstatus,
          |  listagg(CAST(o_orderkey AS STRING), ',')
          |    WITHIN GROUP (ORDER BY o_orderkey) AS keys_csv,
          |  listagg(o_orderpriority, '|')
          |    WITHIN GROUP (ORDER BY o_orderpriority, o_orderkey) AS prios
          |FROM orders WHERE o_orderkey < 500
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // Deterministic per-group mode: `mode(col, deterministic=true)`
    // returns the LOWEST value among tied frequencies, so the answer is
    // reproducible at any parallelism (the one-arg form is tie-arbitrary
    // and could never hash-match an oracle). One hash-agg shuffle on
    // user_id; per-group state is the distinct-value frequency map —
    // bounded by the value domain, not the row count (5 event types /
    // ~500 rounded dollar values here). The numeric mode rounds 2dp
    // values to whole dollars first (ties at .50 are exact doubles and
    // both engines round half away from zero on positives).
    "agg_mode" -> ((s, dir) =>
      Tables.table(s, dir, "events")
        .groupBy("user_id")
        .agg(expr("mode(event_type, true)").as("mode_type"),
             expr("mode(CAST(round(value) AS BIGINT), true)").as("mode_val"))
        .orderBy("user_id"))
  )

  val oracles: Map[String, String] = Map(
    // The estimate can't be hashed cross-engine (sketches differ); the
    // CONTRACT can — exact count + constant-TRUE within_5pct, which the
    // Spark side must reproduce from its own HLL (see the query doc).
    "agg_approx_distinct" ->
      ("SELECT event_type, " +
       "CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, " +
       "TRUE AS within_5pct FROM events GROUP BY 1 ORDER BY 1"),
    "agg_gini" ->
      // the REFERENCE row_number form of the rank weights: the Spark
      // side's two-level histogram rank produces the exact same
      // DECIMAL/HUGEINT integer (tie blocks contribute x·c·(2C+c−n)
      // under either derivation), and the final double division keeps
      // the identical association, so the sorted form is the clearest
      // oracle — DuckDB sorts 15k rows happily; Spark must not.
      ("WITH sp AS (SELECT c_mktsegment AS segment, c_custkey, " +
       "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) " +
       "AS cents FROM orders JOIN customer ON o_custkey = c_custkey " +
       "GROUP BY 1, 2), " +
       "r AS (SELECT segment, c_custkey, cents, " +
       "row_number() OVER (PARTITION BY segment " +
       "ORDER BY cents, c_custkey) AS i, " +
       "count(*) OVER (PARTITION BY segment) AS n FROM sp) " +
       "SELECT segment, CAST(max(n) AS BIGINT) AS n_cust, " +
       "CAST(sum(cents) AS BIGINT) AS total_cents, " +
       "round(CAST(sum(CAST(i * 2 - n - 1 AS HUGEINT) * cents) " +
       "AS DOUBLE) / (CAST(max(n) AS DOUBLE) * " +
       "CAST(CAST(sum(cents) AS HUGEINT) AS DOUBLE)), 6) AS gini " +
       "FROM r GROUP BY 1 ORDER BY 1"),
    "agg_markov_transition" ->
      // same per-user lead() pairs, same bounded row-normalization
      ("WITH p AS (SELECT event_type, lead(event_type) OVER (" +
       "PARTITION BY user_id " +
       "ORDER BY date_trunc('second', ts), event_id) AS nxt " +
       "FROM events), " +
       "c AS (SELECT event_type AS from_type, nxt AS to_type, " +
       "count(*) AS n FROM p WHERE nxt IS NOT NULL GROUP BY 1, 2) " +
       "SELECT from_type, to_type, n, " +
       "round(CAST(n AS DOUBLE) / CAST(CAST(sum(n) OVER (" +
       "PARTITION BY from_type) AS BIGINT) AS DOUBLE), 6) AS p " +
       "FROM c ORDER BY from_type, to_type"),
    "agg_basket_pairs" ->
      // the REFERENCE join form of the pair space: the Spark side's
      // staged array-explode generates the exact same a<b multiset
      // (sorted distinct items, i<j), so counts/ranks are identical;
      // top-20 by (support, pair), HUGEINT lift numerator, identical
      // divisions
      ("WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p " +
       "FROM lineitem), " +
       "pr AS (SELECT x.p AS part_a, y.p AS part_b, count(*) AS n_ab " +
       "FROM op x JOIN op y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2 " +
       "ORDER BY n_ab DESC, part_a, part_b LIMIT 20), " +
       "pc AS (SELECT p, count(*) AS np FROM op GROUP BY 1), " +
       "t AS (SELECT count(DISTINCT o) AS n_orders FROM op) " +
       "SELECT pr.part_a, pr.part_b, pr.n_ab, " +
       "CAST(a.np AS BIGINT) AS n_a, CAST(b.np AS BIGINT) AS n_b, " +
       "round(CAST(pr.n_ab AS DOUBLE) / CAST(a.np AS DOUBLE), 6) " +
       "AS confidence, " +
       "round(CAST(CAST(pr.n_ab AS HUGEINT) * t.n_orders AS DOUBLE) / " +
       "(CAST(a.np AS DOUBLE) * CAST(b.np AS DOUBLE)), 6) AS lift " +
       "FROM pr JOIN pc a ON pr.part_a = a.p " +
       "JOIN pc b ON pr.part_b = b.p, t " +
       "ORDER BY n_ab DESC, part_a, part_b"),
    "agg_hhi" ->
      // same spend relation, HUGEINT square sums, identical double
      // ratio trees
      ("WITH sp AS (SELECT c_mktsegment AS segment, c_custkey, " +
       "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) " +
       "AS cents FROM orders JOIN customer ON o_custkey = c_custkey " +
       "GROUP BY 1, 2) " +
       "SELECT segment, count(*) AS n_cust, " +
       "CAST(CAST(sum(cents) AS HUGEINT) AS BIGINT) AS total_cents, " +
       "round(CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) / " +
       "(CAST(CAST(sum(cents) AS HUGEINT) AS DOUBLE) * " +
       "CAST(CAST(sum(cents) AS HUGEINT) AS DOUBLE)), 6) AS hhi, " +
       "round(CAST(max(cents) AS DOUBLE) / " +
       "CAST(CAST(sum(cents) AS HUGEINT) AS DOUBLE), 6) AS top_share " +
       "FROM sp GROUP BY 1 ORDER BY 1"),
    "agg_survival_km" ->
      // same lifetimes/censoring/risk-set arithmetic (integer windows),
      // same per-row left-fold survival products over the ordered
      // death-time list
      ("WITH e AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) " +
       "AS day, event_type, CAST(round(value * 100) AS BIGINT) AS c " +
       "FROM events), " +
       "life AS (SELECT user_id, min(day) AS f, max(day) AS l, " +
       "min(CASE WHEN event_type = 'purchase' AND c >= 20000 " +
       "THEN day END) AS cd FROM e GROUP BY 1), " +
       "u AS (SELECT datediff('day', f, coalesce(cd, l)) AS t, " +
       "cd IS NULL AS cens FROM life), " +
       "byt AS (SELECT t, count(CASE WHEN NOT cens THEN 1 END) AS d, " +
       "count(*) AS m FROM u GROUP BY 1), " +
       "tot AS (SELECT count(*) AS n_total FROM u), " +
       "r AS (SELECT t, d, CAST(tot.n_total - coalesce(sum(m) OVER (" +
       "ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
       "AS BIGINT) AS n_risk FROM byt, tot), " +
       "dd AS (SELECT t, d, n_risk FROM r WHERE d > 0), " +
       "arr AS (SELECT list(struct_pack(t := t, d := d, n_risk := n_risk) " +
       "ORDER BY t) AS a FROM dd), " +
       "ex AS (SELECT unnest(a) AS x, generate_subscripts(a, 1) AS i, a " +
       "FROM arr) " +
       "SELECT CAST(x.t AS INT) AS t, x.n_risk AS n_risk, " +
       "CAST(x.d AS BIGINT) AS deaths, " +
       "round(list_reduce(list_prepend(CAST(1.0 AS DOUBLE), " +
       "list_transform(a[1:i], y -> 1.0 - " +
       "CAST(y.d AS DOUBLE) / CAST(y.n_risk AS DOUBLE))), " +
       "(p, q) -> p * q), 6) AS s " +
       "FROM ex ORDER BY t"),
    "agg_hll_intersect" ->
      // same contract pattern: exact pairwise overlap via the distinct
      // (user, type) self-join + the constant-TRUE compound bound
      ("WITH ut AS (SELECT DISTINCT user_id, event_type FROM events) " +
       "SELECT x.event_type AS type_a, y.event_type AS type_b, " +
       "count(*) AS n_exact, TRUE AS within_bound " +
       "FROM ut x JOIN ut y ON x.user_id = y.user_id " +
       "AND x.event_type < y.event_type " +
       "GROUP BY 1, 2 ORDER BY 1, 2"),
    "agg_hll_merge" ->
      // same contract pattern: exact count + constant-TRUE ±5% bound
      ("SELECT event_type, " +
       "CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, " +
       "TRUE AS within_5pct FROM events GROUP BY 1 ORDER BY 1"),
    "agg_approx_quantile" ->
      // GK's rank guarantee is deterministic, so every _ok is a hard TRUE
      ("SELECT o_orderstatus, count(*) AS n, " +
       "TRUE AS q50_ok, TRUE AS q90_ok, TRUE AS q99_ok " +
       "FROM orders GROUP BY 1 ORDER BY 1"),
    // DuckDB's mode() is tie-arbitrary, so the oracle spells the same
    // deterministic selection explicitly: rank (count DESC, value ASC),
    // take rank 1 — exactly mode(col, true)'s lowest-on-ties contract.
    "agg_mode" ->
      ("WITH ct AS (SELECT user_id, event_type, count(*) AS n " +
       "FROM events GROUP BY 1, 2), " +
       "rt AS (SELECT user_id, event_type, row_number() OVER " +
       "(PARTITION BY user_id ORDER BY n DESC, event_type) AS rn FROM ct), " +
       "cv AS (SELECT user_id, CAST(round(value) AS BIGINT) AS v, " +
       "count(*) AS n FROM events GROUP BY 1, 2), " +
       "rv AS (SELECT user_id, v, row_number() OVER " +
       "(PARTITION BY user_id ORDER BY n DESC, v) AS rn FROM cv) " +
       "SELECT rt.user_id, rt.event_type AS mode_type, rv.v AS mode_val " +
       "FROM rt JOIN rv ON rt.user_id = rv.user_id " +
       "WHERE rt.rn = 1 AND rv.rn = 1 ORDER BY rt.user_id"),
    "agg_listagg" ->
      ("SELECT o_orderstatus, " +
       "string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS keys_csv, " +
       "string_agg(o_orderpriority, '|' ORDER BY o_orderpriority, o_orderkey) AS prios " +
       "FROM orders WHERE o_orderkey < 500 " +
       "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "agg_minmax_by" ->
      ("WITH ranked AS (SELECT o_orderstatus, o_orderkey, o_totalprice, " +
       "row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax, " +
       "row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin " +
       "FROM orders) " +
       "SELECT o_orderstatus, " +
       "max(CASE WHEN rmax = 1 THEN o_orderkey END) AS key_of_max, " +
       "max(CASE WHEN rmin = 1 THEN o_orderkey END) AS key_of_min, " +
       "round(max(o_totalprice), 2) AS max_price, " +
       "round(min(o_totalprice), 2) AS min_price " +
       "FROM ranked GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "agg_bool" ->
      ("SELECT event_type, count(*) FILTER (WHERE value > 50) AS n_hi, " +
       "bool_and(value >= 0) AS all_nonneg, bool_or(value > 99) AS any_gt99 " +
       "FROM events GROUP BY 1 ORDER BY event_type"),
    "agg_pivot" ->
      ("SELECT o_orderpriority AS prio, " +
       "count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, " +
       "count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o, " +
       "count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p " +
       "FROM orders GROUP BY 1 ORDER BY prio"),
    "agg_retention" ->
      ("WITH a AS (SELECT DISTINCT user_id, " +
       "CAST(date_trunc('day', ts) AS DATE) AS d FROM events), " +
       "c AS (SELECT user_id, min(d) AS cohort FROM a GROUP BY 1) " +
       "SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day, " +
       "CAST(date_diff('day', cohort, d) AS BIGINT) AS day_offset, " +
       "count(*) AS n_users FROM a JOIN c USING (user_id) " +
       "WHERE date_diff('day', cohort, d) IN (0, 1, 7, 14, 30) " +
       "GROUP BY 1, 2 ORDER BY 1, 2"),
    "agg_calendar_spine" ->
      ("WITH b AS (SELECT min(CAST(o_orderdate AS DATE)) AS d0, " +
       "max(CAST(o_orderdate AS DATE)) AS d1 FROM orders), " +
       "spine AS (SELECT CAST(unnest(generate_series(d0, d1, " +
       "INTERVAL 1 DAY)) AS DATE) AS d FROM b), " +
       "daily AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n, " +
       "round(sum(o_totalprice), 2) AS rev FROM orders GROUP BY 1) " +
       "SELECT strftime(s.d, '%Y-%m-%d') AS day, " +
       "coalesce(n, 0) AS n_orders, coalesce(rev, 0) AS rev " +
       "FROM spine s LEFT JOIN daily USING (d) ORDER BY day"),
    "event_pattern_match" ->
      ("WITH s AS (SELECT user_id, count(*) AS n_events, " +
       "string_agg(event_type, ',' ORDER BY ts, event_id) AS seq " +
       "FROM events GROUP BY user_id) " +
       "SELECT user_id, n_events, " +
       "CAST(len(regexp_extract_all(seq, 'view,(click,)+purchase', 0)) " +
       "AS BIGINT) AS n_patterns FROM s " +
       "WHERE len(regexp_extract_all(seq, 'view,(click,)+purchase', 0)) >= 1 " +
       "ORDER BY user_id"),
    "agg_ewma" ->
      // list_reduce seeds with the first element — exactly Spark's
      // aggregate(slice(vals,2,..), vals[1], ...); identical IEEE op
      // order on identical doubles → bitwise-equal unrounded output.
      ("WITH s AS (SELECT user_id, count(*) AS n_events, " +
       "list(value ORDER BY date_trunc('second', ts), event_id) AS vals " +
       "FROM events GROUP BY user_id) " +
       "SELECT user_id, n_events, " +
       "list_reduce(vals, (a, b) -> a * CAST(0.875 AS DOUBLE) + " +
       "b * CAST(0.125 AS DOUBLE)) AS ewma " +
       "FROM s ORDER BY user_id"),
    "agg_ohlc" ->
      // first/last are ORDERED aggregates on (second-truncated ts,
      // event_id) — the same total order Spark's struct min/max walks.
      ("SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, " +
       "first(value ORDER BY date_trunc('second', ts), event_id) AS open, " +
       "last(value ORDER BY date_trunc('second', ts), event_id) AS close, " +
       "max(value) AS high, min(value) AS low, " +
       "count(*) AS n_trades, " +
       "CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) " +
       "AS turnover_c " +
       "FROM events GROUP BY user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') " +
       "ORDER BY user_id, day"),
    "agg_approx_topk" ->
      // Under the no-eviction condition the sketch IS the exact group
      // count; the oracle is the plain aggregate.
      ("SELECT event_type, count(*) AS n FROM events " +
       "GROUP BY event_type ORDER BY event_type"),
    "agg_approx_topk_evict" ->
      // The 3 planted hitters with their exact counts; the error law is
      // pinned constant-TRUE (the engine must PROVE the sketch honored
      // the published bound, the oracle only states it).
      ("WITH src AS (SELECT CASE WHEN event_id % 4 < 3 " +
       "THEN 'hot_' || CAST(event_id % 3 AS VARCHAR) " +
       "ELSE 'cold_' || CAST(event_id % 997 AS VARCHAR) END AS item " +
       "FROM events) " +
       "SELECT item, count(*) AS n_true, true AS est_ok FROM src " +
       "WHERE item LIKE 'hot_%' GROUP BY item ORDER BY item"),
    "agg_bitmap_distinct" ->
      // The bitmap machinery is Spark-side plumbing; the VALUES are exact
      // distinct counts, so the oracle is plain count(DISTINCT).
      ("SELECT event_type, count(DISTINCT user_id) AS n_users " +
       "FROM events GROUP BY event_type " +
       "UNION ALL " +
       "SELECT 'ALL' AS event_type, count(DISTINCT user_id) AS n_users " +
       "FROM events ORDER BY event_type"),
    "agg_funnel" ->
      ("WITH st AS (SELECT user_id, " +
       "min(CASE WHEN event_type = 'view' THEN date_trunc('second', ts) END) AS t_view, " +
       "min(CASE WHEN event_type = 'click' THEN date_trunc('second', ts) END) AS t_click, " +
       "min(CASE WHEN event_type = 'purchase' THEN date_trunc('second', ts) END) AS t_purchase " +
       "FROM events GROUP BY user_id) " +
       "SELECT count(*) AS n_users, " +
       "count(*) FILTER (WHERE t_view IS NOT NULL) AS n_view, " +
       "count(*) FILTER (WHERE t_view IS NOT NULL AND t_click IS NOT NULL " +
       "AND t_click >= t_view) AS n_view_click, " +
       "count(*) FILTER (WHERE t_view IS NOT NULL AND t_click IS NOT NULL " +
       "AND t_click >= t_view AND t_purchase IS NOT NULL " +
       "AND t_purchase >= t_click) AS n_funnel FROM st"),
    "agg_decimal_exact" ->
      ("SELECT l_returnflag, l_linestatus, " +
       "CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS VARCHAR) AS sum_price, " +
       "CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS VARCHAR) AS sum_qty, " +
       "CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)) * " +
       "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) " +
       "AS VARCHAR) AS sum_disc_price, count(*) AS n " +
       "FROM lineitem GROUP BY l_returnflag, l_linestatus " +
       "ORDER BY l_returnflag, l_linestatus"),
    "agg_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, " +
       "round(sum(l_quantity), 2) AS sum_qty, " +
       "round(sum(l_extendedprice), 2) AS sum_base_price, " +
       "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, " +
       "round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, " +
       "round(avg(l_quantity), 2) AS avg_qty, " +
       "round(avg(l_extendedprice), 2) AS avg_price, " +
       "round(avg(l_discount), 2) AS avg_disc, " +
       "count(*) AS count_order " +
       "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01' " +
       "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "agg_distinct_count" ->
      ("SELECT event_type, count(DISTINCT user_id) AS users FROM events " +
       "GROUP BY event_type ORDER BY event_type"),
    "agg_multi_distinct" ->
      ("SELECT event_type, count(DISTINCT user_id) AS users, " +
       "count(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS days " +
       "FROM events GROUP BY event_type ORDER BY event_type"),
    "agg_grouping_sets" ->
      ("SELECT n_name, CAST(year(l_shipdate) AS INTEGER) AS yr, " +
       "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
       "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
       "JOIN nation ON s_nationkey = n_nationkey " +
       "GROUP BY GROUPING SETS ((n_name, CAST(year(l_shipdate) AS INTEGER)), (n_name), ()) " +
       "ORDER BY n_name ASC NULLS FIRST, yr ASC NULLS FIRST"),
    "agg_rollup" ->
      ("SELECT r_name, n_name, count(*) AS cnt FROM nation " +
       "JOIN region ON n_regionkey = r_regionkey " +
       "GROUP BY ROLLUP(r_name, n_name) " +
       "ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"),
    "agg_cube" ->
      ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty " +
       "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
       "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),
    "agg_stats" ->
      ("SELECT l_returnflag, round(stddev_samp(l_quantity), 2) AS sd_qty, " +
       "round(var_samp(l_quantity), 2) AS var_qty, " +
       "round(corr(l_extendedprice, l_quantity), 6) AS corr_pq, " +
       "round(covar_samp(l_quantity, l_discount), 6) AS cov_qd " +
       "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "agg_median_percentile" ->
      ("SELECT o_orderstatus, round(median(o_totalprice), 2) AS med, " +
       "round(quantile_cont(o_totalprice, 0.9), 2) AS p90 " +
       "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "agg_collect_sorted" ->
      ("SELECT n_name, array_to_string(list(s_name ORDER BY s_name), '|') AS names " +
       "FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
       "GROUP BY n_name ORDER BY n_name"),
    "agg_top_groups_having" ->
      ("SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type " +
       "HAVING count(*) > 100 ORDER BY event_type"),
    // epoch() of the second-truncated ts is an integral double; the
    // BIGINT cast is exact, and // floors to the same 6h boundary
    // Spark's epoch-aligned window() picks.
    "agg_time_bucket" ->
      ("SELECT CAST((CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 21600) " +
       "* 21600 AS BIGINT) AS bucket_s, event_type, count(*) AS n, " +
       "round(sum(value), 2) AS sum_value " +
       "FROM events GROUP BY 1, 2 ORDER BY bucket_s, event_type"),
    "agg_regr" ->
      ("SELECT l_returnflag, regr_count(l_extendedprice, l_quantity) AS n, " +
       "round(regr_slope(l_extendedprice, l_quantity), 6) AS slope, " +
       "round(regr_intercept(l_extendedprice, l_quantity), 6) AS icept, " +
       "round(regr_r2(l_extendedprice, l_quantity), 6) AS r2 " +
       "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    // Histogram ranks: 2·avgrank = 2·C_prev + c + 1 from the cumulative
    // window over distinct cents; rank-sum and tie-cube accumulators in
    // HUGEINT (mirroring Spark's decimal(38,0) — per-row cubes cast
    // BEFORE multiplying), then the identical double expressions.
    "agg_mann_whitney" ->
      ("WITH e AS (SELECT event_type, user_id % 2 = 0 AS a, " +
       "CAST(round(value*100) AS BIGINT) AS c FROM events " +
       "WHERE value IS NOT NULL), " +
       "h AS (SELECT event_type, c, " +
       "count(CASE WHEN a THEN 1 END) AS n0v, " +
       "count(CASE WHEN NOT a THEN 1 END) AS n1v FROM e GROUP BY 1, 2), " +
       "t AS (SELECT *, n0v + n1v AS cv, " +
       "coalesce(sum(n0v + n1v) OVER (PARTITION BY event_type ORDER BY c " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev " +
       "FROM h), " +
       "t2 AS (SELECT *, 2 * cprev + cv + 1 AS dr FROM t), " +
       "g AS (SELECT event_type, CAST(sum(n0v) AS BIGINT) AS n0, " +
       "CAST(sum(n1v) AS BIGINT) AS n1, " +
       "sum(CAST(n0v AS HUGEINT) * dr) AS r2x0, " +
       "sum(CAST(cv AS HUGEINT) * cv * cv - cv) AS ties " +
       "FROM t2 GROUP BY 1), " +
       "k AS (SELECT event_type, n0, n1, n0 + n1 AS n, ties, " +
       "(CAST(r2x0 AS DOUBLE) - CAST(n0 AS DOUBLE) * (n0 + 1)) / 2 AS u0, " +
       "CAST(n0 AS DOUBLE) * n1 AS m FROM g), " +
       // degenerate guard mirrors the Spark side: Spark x/0 -> NULL but
       // DuckDB -> +/-Inf, so z must be NULL-gated identically
       "k2 AS (SELECT k.*, " +
       "m > 0 AND n > 1 AND CAST(ties AS DOUBLE) < " +
       "CAST(n AS DOUBLE) * (n + 1) * (n - 1) AS ok, " +
       "m / 12 * ((n + 1) - " +
       "CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))) AS vr " +
       "FROM k) " +
       "SELECT event_type, n0, n1, u0 AS u, " +
       "CASE WHEN ok THEN round((u0 - m / 2) / sqrt(vr), 6) END AS z, " +
       "abs(CASE WHEN ok THEN round((u0 - m / 2) / sqrt(vr), 6) END) " +
       ">= 1.96 AS significant " +
       "FROM k2 ORDER BY event_type"),
    // Exact integer (n, Σx, Σx²) per arm, then the identical double
    // expression text: identity of every IEEE op, not exactness, is what
    // the hash gate needs (the s1² double product is inexact past 2^53
    // but identically so in both engines).
    "agg_ab_ttest" ->
      ("WITH e AS (SELECT event_type, user_id % 2 = 0 AS arm, " +
       "CAST(round(value*100) AS BIGINT) AS c FROM events " +
       "WHERE value IS NOT NULL), " +
       // sums stay HUGEINT (exact, overflow-free) mirroring the Spark
       // side's decimal(38,0); both sides convert the same exact integer
       // to double exactly once
       "g AS (SELECT event_type, " +
       "count(CASE WHEN arm THEN 1 END) AS n0, " +
       "sum(CASE WHEN arm THEN c END) AS s10, " +
       "sum(CASE WHEN arm THEN c * c END) AS s20, " +
       "count(CASE WHEN NOT arm THEN 1 END) AS n1, " +
       "sum(CASE WHEN NOT arm THEN c END) AS s11, " +
       "sum(CASE WHEN NOT arm THEN c * c END) AS s21 " +
       "FROM e GROUP BY event_type), " +
       "k AS (SELECT event_type, n0, n1, " +
       "CAST(s10 AS DOUBLE) / n0 AS m0, CAST(s11 AS DOUBLE) / n1 AS m1, " +
       "((CAST(s20 AS DOUBLE) - CAST(s10 AS DOUBLE) * CAST(s10 AS DOUBLE) / n0) / (n0 - 1)) / n0 AS se0, " +
       "((CAST(s21 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s11 AS DOUBLE) / n1) / (n1 - 1)) / n1 AS se1 " +
       "FROM g), " +
       // degenerate guard mirrors the Spark side (n≤1 arm → 0/0 Welch
       // variance, constant arms → sqrt(0) denominator): NULL-gate
       // t_stat/dof/significant identically, since Spark yields NULL
       // where DuckDB yields IEEE NaN/Inf
       "k2 AS (SELECT k.*, " +
       "n0 > 1 AND n1 > 1 AND se0 + se1 > 0 AS ok FROM k) " +
       "SELECT event_type, n0, n1, " +
       "round(m0 / 100, 6) AS mean_a, round(m1 / 100, 6) AS mean_b, " +
       "CASE WHEN ok THEN round((m0 - m1) / sqrt(se0 + se1), 6) END AS t_stat, " +
       "CASE WHEN ok THEN round((se0 + se1) * (se0 + se1) / " +
       "(se0 * se0 / (n0 - 1) + se1 * se1 / (n1 - 1)), 6) END AS dof, " +
       "abs(CASE WHEN ok THEN round((m0 - m1) / sqrt(se0 + se1), 6) END) " +
       ">= 1.96 AS significant " +
       "FROM k2 ORDER BY event_type"),
    // 2×2 filtered counts, HUGEINT ad−bc (mirroring decimal(38,0)),
    // one double expression with identical association, zero-margin
    // guard NULL-gating chi2/significant on both sides.
    // identical md5 bucketing, HUGEINT counts cast back to BIGINT, the
    // same min-over-rows estimate and derived probe set
    "agg_count_min" ->
      ("WITH ev AS (SELECT user_id FROM events), " +
       "x AS (SELECT user_id, unnest(generate_series(0, 3)) AS d FROM ev), " +
       "ctr AS (SELECT d, substring(md5(CAST(d AS VARCHAR) || ':' || " +
       "CAST(user_id AS VARCHAR)), 1, 2) AS bh, count(*) AS cnt " +
       "FROM x GROUP BY 1, 2), " +
       "top AS (SELECT user_id, count(*) AS exact_n FROM ev GROUP BY 1 " +
       "ORDER BY exact_n DESC, user_id LIMIT 10), " +
       "pr AS (SELECT user_id, exact_n, unnest(generate_series(0, 3)) AS d " +
       "FROM top), " +
       "pb AS (SELECT user_id, exact_n, d, " +
       "substring(md5(CAST(d AS VARCHAR) || ':' || " +
       "CAST(user_id AS VARCHAR)), 1, 2) AS bh FROM pr) " +
       "SELECT pb.user_id, CAST(exact_n AS BIGINT) AS exact_n, " +
       "CAST(min(cnt) AS BIGINT) AS cms_est, " +
       "CAST(min(cnt) - exact_n AS BIGINT) AS overcount " +
       "FROM pb JOIN ctr USING (d, bh) GROUP BY pb.user_id, pb.exact_n " +
       "ORDER BY exact_n DESC, user_id"),
    // Full replay of the deterministic Poisson bootstrap: the same
    // PoissonThr hex literals (interpolated from the one Scala constant,
    // so the CDF can never drift between engines), HUGEINT accumulators,
    // value-sorted NULL-filtered mean list, all-16 CI gate.
    "agg_bootstrap_ci" -> {
      val thrCase = "CASE " + PoissonThr.zipWithIndex.map { case (t, k) =>
        s"WHEN substring(md5(CAST(event_id AS VARCHAR) || ':' || " +
          s"CAST(b AS VARCHAR)), 1, 8) < '$t' THEN $k "
      }.mkString + s"ELSE ${PoissonThr.size} END"
      "WITH e AS (SELECT event_type, " +
        "CAST(round(value*100) AS BIGINT) AS c, event_id FROM events " +
        "WHERE value IS NOT NULL), " +
        "st AS (SELECT event_type, count(*) AS n, " +
        "CAST(sum(c) AS HUGEINT) AS sc FROM e GROUP BY 1), " +
        "x AS (SELECT event_type, c, event_id, " +
        "unnest(generate_series(1, 16)) AS b FROM e), " +
        s"wx AS (SELECT event_type, b, c, $thrCase AS w FROM x), " +
        "g AS (SELECT event_type, b, CAST(sum(w) AS BIGINT) AS sw, " +
        "CAST(sum(CAST(w * c AS HUGEINT)) AS HUGEINT) AS swc " +
        "FROM wx GROUP BY 1, 2), " +
        "mm AS (SELECT event_type, CASE WHEN sw > 0 THEN " +
        "CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE) / 100 END AS m FROM g), " +
        "ar AS (SELECT event_type, list(m ORDER BY m) " +
        "FILTER (WHERE m IS NOT NULL) AS ms FROM mm GROUP BY 1) " +
        "SELECT st.event_type, st.n, " +
        "round(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100, 6) AS mean, " +
        "CASE WHEN len(ms) = 16 THEN round(ms[2], 6) END AS ci_lo, " +
        "CASE WHEN len(ms) = 16 THEN round(ms[15], 6) END AS ci_hi " +
        "FROM st JOIN ar USING (event_type) ORDER BY event_type"
    },
    "agg_chi_square" ->
      ("WITH e AS (SELECT event_type, user_id % 2 = 0 AS a, " +
       "CAST(round(value*100) AS BIGINT) >= 5000 AS cv FROM events " +
       "WHERE value IS NOT NULL), " +
       "g AS (SELECT event_type, " +
       "count(CASE WHEN a AND cv THEN 1 END) AS ca, " +
       "count(CASE WHEN a AND NOT cv THEN 1 END) AS cb, " +
       "count(CASE WHEN NOT a AND cv THEN 1 END) AS cc, " +
       "count(CASE WHEN NOT a AND NOT cv THEN 1 END) AS cd " +
       "FROM e GROUP BY event_type), " +
       "k AS (SELECT event_type, ca, cb, cc, cd, " +
       "ca + cb + cc + cd AS nn, " +
       "CAST(ca AS HUGEINT) * cd - CAST(cb AS HUGEINT) * cc AS det, " +
       "CAST(ca + cb AS DOUBLE) AS m1, CAST(cc + cd AS DOUBLE) AS m2, " +
       "CAST(ca + cc AS DOUBLE) AS m3, CAST(cb + cd AS DOUBLE) AS m4 " +
       "FROM g), " +
       "k2 AS (SELECT k.*, " +
       "m1 > 0 AND m2 > 0 AND m3 > 0 AND m4 > 0 AS ok, " +
       "CAST(nn AS DOUBLE) * CAST(det AS DOUBLE) * CAST(det AS DOUBLE) / " +
       "m1 / m2 / m3 / m4 AS chi FROM k) " +
       "SELECT event_type, ca, cb, cc, cd, " +
       "CASE WHEN ok THEN round(chi, 6) END AS chi2, " +
       "CASE WHEN ok THEN round(chi, 6) END >= 3.841 AS significant " +
       "FROM k2 ORDER BY event_type"),
    "agg_histogram" ->
      ("SELECT CASE WHEN o_totalprice < 0 THEN 0 " +
       "WHEN o_totalprice >= 600000 THEN 25 " +
       "ELSE CAST(floor(o_totalprice / 25000.0) AS BIGINT) + 1 END AS bucket, " +
       "count(*) AS n FROM orders GROUP BY 1 ORDER BY bucket"),
    "agg_unpivot" ->
      ("WITH a AS (SELECT o_orderpriority AS prio, " +
       "round(sum(o_totalprice), 2) AS sum_total, " +
       "round(avg(o_totalprice), 2) AS avg_total, " +
       "round(max(o_totalprice), 2) AS max_total FROM orders GROUP BY 1) " +
       "SELECT prio, 'sum_total' AS metric, sum_total AS v FROM a " +
       "UNION ALL SELECT prio, 'avg_total', avg_total FROM a " +
       "UNION ALL SELECT prio, 'max_total', max_total FROM a " +
       "ORDER BY prio, metric")
  )
}
