package graft.ops

import graft.{D, Tables}
import graft.QueryDefs.Q
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY.md §2.5 window functions.
  *
  * Every window's orderBy ends in a unique tie-break key (§7.3) so rank /
  * ntile / frame contents are total-order deterministic, which is what the
  * driver's hash compare requires. Scale shape: a window = one shuffle on
  * the partition key + a per-partition sort; `win_range_frame` pre-aggregates
  * to one row per day before its (necessarily global) ordered frame, so the
  * single-partition window only ever sees ~one row per day regardless of
  * fact-table size.
  */
object Windows {

  /** Build-or-load a densified per-type hourly spine over `events`:
    * `aggExpr` per (event_type, hour), hours from each type's first to
    * last observed hour, gaps carrying `fill` (or NULL when None — the
    * interpolation keys treat missing hours as real gaps). STAGED per
    * corpus version (round 20 — r19 verdict item 4: the r19
    * localCheckpoint barrier removed the double events scan but paid
    * one materialization job PER INVOCATION, +0.2 s × 7 consumers at
    * bench SF); the densified series is a deterministic, calendar-
    * bounded derived relation (types × hours — dim-sized), exactly what
    * the Staging contract is for. ONE parameterized builder so the
    * count and cents spines can never drift in barrier/staging/spine
    * rules (r20 review). The spine join is NULL-safe on event_type: a
    * NULL type is a group like any other (the raw GROUP BY keeps it), so
    * its observed hours must carry their aggregate, not the gap fill.
    * Rows with a NULL `ts` have no hour and are not in the spine
    * (FIXTURES.md: no NULLs in any profiled column). */
  private def denseHourlySpine(s: org.apache.spark.sql.SparkSession,
      dir: String, name: String, hourCol: String,
      aggExpr: org.apache.spark.sql.Column, aggName: String,
      fill: Option[org.apache.spark.sql.Column])
      : org.apache.spark.sql.DataFrame =
    graft.Staging.materialize(s, Tables.path(dir, "events"), name) {
      // LAZY barrier inside the one-time build (the q15 pattern): the
      // hourly aggregate feeds BOTH the per-type [min,max] spine bounds
      // and the spine join — without it the build scans events TWICE
      // (r19 plan sweep). Also the plan-audit shape when staging is
      // disabled (-Dgraft.staging=false).
      val hourly = Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as(hourCol),
          col("event_type"))
        .agg(aggExpr.as(aggName))
        .localCheckpoint(false)
      hourly.groupBy("event_type")
        .agg(min(col(hourCol)).as("h0"), max(col(hourCol)).as("h1"))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
            .as(hourCol))
        .as("sp")
        .join(hourly.as("h"),
          col("sp.event_type") <=> col("h.event_type") &&
            col(s"sp.$hourCol") === col(s"h.$hourCol"), "left")
        .select(col("sp.event_type"), col(s"sp.$hourCol"),
          fill.map(f => coalesce(col(s"h.$aggName"), f))
            .getOrElse(col(s"h.$aggName")).as(aggName))
    }

  /** The DENSIFIED hourly volume series (event_type, hw, n) — each
    * type's calendar hours from its first to its last observed hour,
    * zero-filled where no events landed. Read by win_acf,
    * win_seasonal_baseline, win_changepoint, win_forecast_des,
    * win_forecast_hw and win_rolling_corr, and (through [[hourlyCounts]]
    * and [[dailyCounts]]) by win_trend_theil_sen, win_cusum,
    * dq_anomaly_volume and dq_outlier_mad: zero-volume hours are real
    * observations for a volume monitor (a lag over the observed-rows-only
    * rollup would treat hours across a gap as adjacent; a seasonal mean
    * would skip exactly the hours that drag a sparse slot down — r17
    * review finding; the dq_drift_psi explode(sequence) densification
    * precedent). The spine is per-type (no fabricated hours before a
    * type first existed) and stays |days|·24·|types| rows — calendar-
    * bounded, never event-bounded. */
  private def denseHourly(s: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame =
    denseHourlySpine(s, dir, "dense_hourly_v2", "hw",
      count(lit(1)), "n", Some(lit(0L)))

  /** The OBSERVED per-type hourly counts (event_type, hw, n): the count
    * spine's rows with n > 0, which are exactly the rows of
    * `events.groupBy(event_type, date_trunc('hour', ts)).count()` — so a
    * key that needs the raw hourly rollup reads types × hours staged
    * rows instead of scanning the fact table (Catalyst has no rule that
    * answers an aggregate from a staged rollup; the routing is ours).
    * NULL event_type is kept (the spine joins NULL-safely); rows with a
    * NULL `ts` have no hour and are not counted (FIXTURES.md: no NULLs in
    * any profiled column). `n` stays non-nullable like `count`'s — the
    * staged parquet read marks every column nullable. HourlySpineSpec
    * pins the equivalence. */
  private[graft] def hourlyCounts(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    denseHourly(s, dir).where(col("n") > 0)
      .select(col("event_type"), col("hw"),
        coalesce(col("n"), lit(0L)).as("n"))

  /** The per-type DAILY counts (day, event_type, n) — the day grain of
    * [[hourlyCounts]], equal to `events.groupBy(to_date(ts),
    * event_type).count()` under the same NULL rules; a day with no
    * events has no row. */
  private[graft] def dailyCounts(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    hourlyCounts(s, dir)
      .groupBy(to_date(col("hw")).as("day"), col("event_type"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"))

  /** Two-sided CUSUM DECISION rule with alarm-reset (the Page–Hinkley
    * readout `win_cusum` stops short of), factored so DataQualitySpec
    * can drive it with synthetic series. Input: a dense hourly series
    * (event_type, hw, n). Semantics per type, hours indexed t by hw:
    *  - reference μ = mean of the 24-hour warm-up, slack k = μ/8,
    *    threshold λ = 3μ — all carried in EXACT integer 1/192 units
    *    (Z_up = 192·n − 9·bs, Z_dn = 7·bs − 192·n, Λ = 24·bs where
    *    bs = Σ warm-up counts), so the recurrence is engine-exact.
    *  - s±(t) = max(0, s±(t−1) + Z±) — the CUSUM zero-floor reset;
    *    crossing Λ raises an alarm (up checked first) and RESETS both
    *    sides (the sequential-detection restart).
    * The recurrence is inherently ordered, so it folds per type via
    * `aggregate(array_sort(collect_list(...)))` — the graph_pagerank /
    * text_entropy HOF posture. That IS the 100 TB shape: the fact-scale
    * work is the hourly pre-aggregate (map-side partials); the fold
    * state is one small struct over a CALENDAR-BOUNDED array (≤ hours
    * in retention — ~9k/year), per type, thousands of types in
    * parallel. Alarms serialize pipe-joined (no array outputs — the
    * agg_collect_sorted driver-hasher rule). */
  private[graft] def changepointDetect(
      hourly: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tw = Window.partitionBy("event_type").orderBy("hw")
    val zero = lit(0L)
    val acc0 = struct(zero.as("su"), zero.as("sd"), zero.as("na"),
      lit("").as("alarms"), zero.as("mu"), zero.as("md"))
    val folded = hourly
      .withColumn("t", row_number().over(tw))
      .groupBy("event_type")
      .agg(sum(when(col("t") <= 24, col("n"))).as("bs"),
        array_sort(collect_list(when(col("t") > 24,
          struct(unix_timestamp(col("hw")).as("ts"), col("n").as("n")))))
          .as("seq"))
      .withColumn("fold", aggregate(col("seq"), acc0, (acc, e) => {
        val su1 = greatest(zero,
          acc("su") + (lit(192L) * e("n") - lit(9L) * col("bs")))
        val sd1 = greatest(zero,
          acc("sd") + (lit(7L) * col("bs") - lit(192L) * e("n")))
        val lam = lit(24L) * col("bs")
        val alarm = su1 > lam || sd1 > lam
        val entry = when(su1 > lam,
            concat(e("ts").cast("string"), lit(":up")))
          .when(sd1 > lam, concat(e("ts").cast("string"), lit(":dn")))
          .otherwise("")
        struct(
          when(alarm, zero).otherwise(su1).as("su"),
          when(alarm, zero).otherwise(sd1).as("sd"),
          (acc("na") + when(alarm, 1L).otherwise(0L)).as("na"),
          concat(acc("alarms"),
            when(!alarm, lit(""))
              .when(acc("alarms") === "", entry)
              .otherwise(concat(lit("|"), entry))).as("alarms"),
          greatest(acc("mu"), su1).as("mu"),
          greatest(acc("md"), sd1).as("md"))
      }))
    folded.select(col("event_type"), col("bs").as("base_24h"),
      col("fold.na").as("n_alarms"), col("fold.alarms").as("alarms"),
      col("fold.mu").as("max_up"), col("fold.md").as("max_dn"))
      .orderBy("event_type")
  }

  /** `win_time_range`: per-event trailing 1 h RANGE window per user
    * (count and integer-cents sum), run by Spark and by the DuckDB oracle
    * as the same text. The outer CAST(... AS BIGINT) on the windowed sum
    * is load-bearing on the ORACLE side: DuckDB widens integer sum() to
    * INT128 (HUGEINT), which the driver's hasher materializes as float64,
    * breaking the hash against Spark's BIGINT even when every value
    * matches (r9 verdict). */
  private val TimeRangeSql =
    """SELECT user_id, event_id, date_trunc('second', ts) AS ts_s,
      |  count(*) OVER w AS n_1h,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT) AS cents_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id
      |  ORDER BY date_trunc('second', ts)
      |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  val queries: Map[String, Q] = Map(
    // Sequential changepoint DETECTION over the dense hourly spine
    // (round 19) — the decision readout win_cusum's statistic feeds:
    // alarm hours + direction under the reset rule, the Page–Hinkley
    // member the monitoring family (z-score, PSI/KS drift, CUSUM
    // statistic) lacked. See [[changepointDetect]] for the exact
    // integer recurrence; the oracle replays it as a DuckDB recursive
    // CTE over the same spine (depth = hours, calendar-bounded).
    "win_changepoint" -> ((s, dir) =>
      changepointDetect(denseHourly(s, dir)
        .select(col("event_type"), col("hw"), col("n")))),

    "win_row_number_topk" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.table(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"),
                col("o_totalprice").as("total"))
        .orderBy("o_custkey", "rn")
    }),

    // rank vs dense_rank on price alone (ties share a rank — that is the
    // semantics under test); output order is made total by p_partkey.
    "win_rank_dense" -> ((s, dir) => {
      val w = Window.partitionBy("p_brand")
        .orderBy(col("p_retailprice").desc)
      Tables.table(s, dir, "part")
        .select(col("p_brand"), col("p_partkey"),
                col("p_retailprice").as("price"),
                rank().over(w).as("rnk"),
                dense_rank().over(w).as("drnk"))
        .orderBy("p_brand", "p_partkey")
    }),

    "win_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("tss"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("tss", date_trunc("second", col("ts")))
        .select(col("event_id"), col("user_id"),
          coalesce(unix_timestamp(col("tss")) -
                   unix_timestamp(lag("tss", 1).over(w)), lit(-1L))
            .as("gap_prev"),
          coalesce(unix_timestamp(lead("tss", 1).over(w)) -
                   unix_timestamp(col("tss")), lit(-1L))
            .as("gap_next"))
        .orderBy("event_id")
    }),

    // Rows-frame running sum: additions happen in the same deterministic
    // order on both engines, so the rounded sums are bitwise stable.
    "win_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
                D.r2(sum("o_totalprice").over(w)).as("run"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Rolling ORDER STATISTIC — per-customer median of the trailing 5
    // order totals, the robust-baseline frame every outlier/anomaly
    // monitor runs (a rolling mean chases the spike it's supposed to
    // flag). No built-in windowed median exists in either engine with
    // identical semantics, so both sides run the same mechanics:
    // collect the ROWS frame, sort it, select the LOWER median — pure
    // selection of an input double, no arithmetic, so the unrounded
    // value is bitwise-stable. The frame is ≤5 rows per output row, so
    // per-row state is O(frame), not O(history), and the window is one
    // shuffle on o_custkey like every sibling key.
    // Seasonal-baseline decomposition (round 17) — the hour-of-day
    // profile every traffic monitor subtracts before alarming: raw
    // volume z-scores (dq_anomaly_volume) flag every rush hour as an
    // anomaly; comparing each hour to ITS OWN seasonal slot (the mean of
    // all same-hour-of-day hours for that type) is the fix. The slot
    // means run over the DENSIFIED series (shared denseHourly spine):
    // zero-volume hours are exactly the observations a seasonal mean
    // must count, or sparse slots bias upward (r17 review finding).
    // expected = Σn/cnt over the (type, hour-of-day) slot, residual =
    // n − expected — exact integer sums with ONE IEEE division/
    // subtraction per row, identical tree both engines, rounded 6dp.
    // Scale: one corpus pass to the hourly rollup; the window
    // partitions over the BOUNDED hours-per-type relation
    // (|days|·24·|types| rows — calendar-bounded, never event-bounded,
    // the win_cusum posture).
    "win_seasonal_baseline" -> ((s, dir) => {
      val hourly = denseHourly(s, dir)
        .withColumn("hod", hour(col("hw")))
      val w = Window.partitionBy("event_type", "hod")
      val withStats = hourly
        .withColumn("s1", sum(col("n")).over(w))
        .withColumn("cnt", count(lit(1)).over(w))
      val expected = col("s1").cast("double") / col("cnt").cast("double")
      withStats
        .select(col("event_type"), col("hw"), col("hod"), col("n"),
          round(expected, 6).as("expected"),
          round(col("n").cast("double") - expected, 6).as("residual"))
        .orderBy("event_type", "hw")
    }),

    // Weekly cohort retention MATRIX (round 18) — the heat-map chart
    // itself, complementing agg_retention's fixed-offset probe
    // (0/1/7/14/30-day survival for the whole population): here users
    // are bucketed by FIRST-ACTIVITY week (ISO Monday truncation,
    // identical in both engines) and every cell of the cohort × offset
    // grid is emitted — the view that separates "week-3 signups churn
    // faster" from "everyone churned in calendar week 3", which a
    // single global offset probe cannot. Offset = user-anchored
    // datediff DIV 7 (exact integer); cell = distinct users from
    // cohort c active in offset week k; retention = n_active/n_cohort.
    // Offset 0 is 100% by construction (every user is active in their
    // own first week) — the law DataQualitySpec pins. Shape: distinct
    // (user, day) pass → per-user min → one (cohort, offset) distinct
    // + count; cohort sizes are a CALENDAR-bounded relation broadcast
    // back. Exact integers throughout, one rounded division per cell.
    "win_retention_cohort" -> ((s, dir) => {
      // LAZY barriers (q15/q21-rescan class, r21): act feeds first AND
      // the offset join; first feeds the offset join AND cohort sizes —
      // without the barriers the events scan + distinct re-ran once per
      // reference (3× total) under static planning.
      val act = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .localCheckpoint(false)
      val first = act.groupBy("user_id").agg(min(col("day")).as("f"))
        .localCheckpoint(false)
      val off = act.join(first, "user_id")
        .select(date_trunc("week", col("f")).as("cohort"),
          col("user_id"),
          expr("CAST(datediff(day, f) DIV 7 AS INT)").as("offset"))
        .distinct()
      val sizes = first
        .groupBy(date_trunc("week", col("f")).as("cohort"))
        .agg(count(lit(1)).as("n_cohort"))
      off.groupBy("cohort", "offset")
        .agg(count(lit(1)).as("n_active"))
        .join(broadcast(sizes), "cohort")
        .select(col("cohort").as("cohort_week"), col("offset"),
          col("n_cohort"), col("n_active"),
          round(col("n_active").cast("double") /
            col("n_cohort").cast("double"), 6).as("retention"))
        .orderBy("cohort_week", "offset")
    }),

    // Cohort LTV curve (round 18) — the REVENUE companion to
    // win_retention_cohort's activity matrix: per (first-activity week
    // cohort × user-anchored week offset), that week's purchase revenue
    // and the RUNNING cumulative, expressed per cohort member — the
    // "how much is a week-N signup worth by week K" curve every
    // payback-period decision reads. Exact integer cents end-to-end
    // (per-week sums and the cumulative window both long/HUGEINT); the
    // per-user division is the one rounded double. Weeks with zero
    // purchases carry no row (the cumulative is over present offsets —
    // documented sparse form). Shape: events pass → per-user first day
    // (shared rule with the retention matrix) → (cohort, offset) rollup;
    // the cumulative window and cohort sizes live on CALENDAR-bounded
    // relations.
    "win_cohort_ltv" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type"),
          round(col("value") * 100, 0).cast("long").as("c"))
      // LAZY barrier: first feeds the revenue join AND cohort sizes —
      // each reference re-ran the full events scan + per-user min (r21)
      val first = ev.groupBy("user_id").agg(min(col("day")).as("f"))
        .localCheckpoint(false)
      val rev = ev.where(col("event_type") === "purchase")
        .join(first, "user_id")
        .groupBy(date_trunc("week", col("f")).as("cohort"),
          expr("CAST(datediff(day, f) DIV 7 AS INT)").as("offset"))
        .agg(sum(col("c")).as("cents"))
      val sizes = first
        .groupBy(date_trunc("week", col("f")).as("cohort"))
        .agg(count(lit(1)).as("n_cohort"))
      val w = Window.partitionBy("cohort").orderBy("offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.join(broadcast(sizes), "cohort")
        .withColumn("cum_cents", sum(col("cents")).over(w))
        .select(col("cohort").as("cohort_week"), col("offset"),
          col("n_cohort"), col("cents"), col("cum_cents"),
          round(col("cum_cents").cast("double") /
            col("n_cohort").cast("double") / 100, 6).as("ltv_per_user"))
        .orderBy("cohort_week", "offset")
    }),

    // Holt double-exponential forecast (round 18) — the projection
    // member of the time-series family: win_seasonal_baseline
    // decomposes, agg_ewma smooths a level, but neither projects
    // FORWARD; Holt's linear method carries a level AND a trend and
    // answers "what does the next hour look like", the readout a
    // capacity monitor actually pages on. Per type over the DENSIFIED
    // hourly spine (shared denseHourly — zero hours are real
    // observations for a volume forecast): l_t = α·x_t +
    // (1−α)(l_{t−1}+b_{t−1}), b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1},
    // seeded l_2 = x_2, b_2 = x_2 − x_1; forecast_next = l + b. α = 1/4
    // and β = 1/8 are EXACT binary fractions and the recurrence is a
    // chronological left fold of IEEE *,+ only (the agg_ewma Horner
    // posture), so the unrounded state is bitwise-reproducible — the
    // oracle replays the identical fold with list_reduce over (l, b)
    // structs (elements pre-lifted to the state type because DuckDB's
    // fold is seedless — the first element IS the seed, b := NULL until
    // the second observation defines the trend). A one-observation type
    // NULL-gates trend and forecast. Scale: one corpus pass to the
    // hourly rollup; the per-type fold state is the calendar-bounded
    // spine (|days|·24 rows), the event_pattern_match bound.
    "win_forecast_des" -> ((s, dir) => {
      val vals = transform(
        array_sort(collect_list(struct(col("hw"), col("n")))),
        x => x.getField("n").cast("double"))
      val a = lit(0.25); val a1 = lit(0.75)
      val b = lit(0.125); val b1 = lit(0.875)
      denseHourly(s, dir)
        .groupBy("event_type")
        .agg(vals.as("xs"))
        .select(col("event_type"), size(col("xs")).as("n_hours"),
          aggregate(
            slice(col("xs"), lit(2), size(col("xs")) - 1),
            struct(element_at(col("xs"), 1).as("l"),
              lit(null).cast("double").as("b")),
            (acc, x) => {
              val l0 = acc.getField("l"); val b0 = acc.getField("b")
              val lN = x * a + (l0 + b0) * a1
              struct(
                when(b0.isNull, x).otherwise(lN).as("l"),
                when(b0.isNull, x - l0)
                  .otherwise((lN - l0) * b + b0 * b1).as("b"))
            }).as("st"))
        .select(col("event_type"), col("n_hours"),
          round(col("st.l"), 6).as("level"),
          round(col("st.b"), 6).as("trend"),
          round(col("st.l") + col("st.b"), 6).as("forecast_next"))
        .orderBy("event_type")
    }),

    // Holt–Winters triple smoothing (round 19) — the SEASONAL member of
    // the forecast family (win_forecast_des carries level+trend only;
    // hourly ops series are daily-periodic, so a DES forecast chases
    // the cycle instead of modeling it). Additive seasonality, period
    // 24: l_t = α(x_t − s_{t−24}) + (1−α)(l+b); b_t = β(l_t − l) +
    // (1−β)b; s_t = γ(x_t − l_t) + (1−γ)s_{t−24}, with α=0.25,
    // β=0.125, γ=0.25 (power-of-2 fractions — exact binary literals on
    // both engines). Init: l₀ = mean of the first 24 h (left-fold sum
    // over exact-int doubles — same association in the oracle), b₀=0,
    // sᵢ = xᵢ − l₀. The seasonal state is a 24-double ring carried in
    // the fold accumulator and rotated per step — per-type state is
    // CONSTANT (26 doubles), the fold input calendar-bounded (the DES
    // posture); every step is +/−/× over identical doubles in the
    // identical association, so the oracle's 26-list list_reduce replay
    // is bit-exact and the outputs round at 6dp.
    "win_forecast_hw" -> ((s, dir) => {
      val vals = transform(
        array_sort(collect_list(struct(col("hw"), col("n")))),
        x => x.getField("n").cast("double"))
      denseHourly(s, dir)
        .groupBy("event_type")
        .agg(vals.as("xs"))
        .select(col("event_type"), size(col("xs")).as("n_hours"),
          {
            val l0 = aggregate(slice(col("xs"), 1, 24), lit(0.0),
              (a, x) => a + x) / 24.0
            val acc0 = struct(l0.as("l"), lit(0.0).as("b"),
              transform(slice(col("xs"), 1, 24), x => x - l0).as("ss"))
            aggregate(
              slice(col("xs"), lit(25),
                greatest(lit(0), size(col("xs")) - 24)),
              acc0,
              (acc, x) => {
                val s1 = element_at(acc.getField("ss"), 1)
                val lN = (x - s1) * lit(0.25) +
                  (acc.getField("l") + acc.getField("b")) * lit(0.75)
                val bN = (lN - acc.getField("l")) * lit(0.125) +
                  acc.getField("b") * lit(0.875)
                val sN = (x - lN) * lit(0.25) + s1 * lit(0.75)
                struct(lN.as("l"), bN.as("b"),
                  concat(slice(acc.getField("ss"), 2, 23), array(sN))
                    .as("ss"))
              }).as("st")
          })
        .select(col("event_type"), col("n_hours"),
          round(col("st.l"), 6).as("level"),
          round(col("st.b"), 6).as("trend"),
          round(element_at(col("st.ss"), 1), 6).as("season_next"),
          round(col("st.l") + col("st.b") +
            element_at(col("st.ss"), 1), 6).as("forecast_next"))
        .orderBy("event_type")
    }),

    // Period-over-period growth (round 19) — the WoW readout every ops
    // dashboard leads with (ewma/seasonal/forecast model the series;
    // this is the comparison REPORT): ISO-week volumes per type, each
    // week vs the previous via lag(1) over the per-type order. Growth =
    // one IEEE division of exact longs (engine-identical), NULL-gated
    // on the first week; flags at the 6dp-rounded value. One hash
    // aggregate + one per-type window (weeks × types rows — calendar-
    // bounded, the win_trend_theil_sen scale argument).
    "win_wow_growth" -> ((s, dir) => {
      val wk = Tables.events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("week", col("ts")).as("wk"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      val w = Window.partitionBy("event_type").orderBy("wk")
      wk.withColumn("prev_n", lag(col("n"), 1).over(w))
        .withColumn("prev_c", lag(col("cents"), 1).over(w))
        .select(col("event_type"), col("wk"), col("n"), col("prev_n"),
          round(when(col("prev_n").isNotNull,
            (col("n") - col("prev_n")).cast("double") /
              col("prev_n").cast("double")), 6).as("n_growth"),
          // prev_c = 0 is possible (a week whose values all round to 0
          // cents) and Spark's non-ANSI Divide yields NULL there while
          // DuckDB's IEEE division yields ±inf — gate to NULL on BOTH
          // engines (r19 review). prev_n needs no gate (count ≥ 1).
          round(when(col("prev_c").isNotNull && col("prev_c") =!= 0,
            (col("cents") - col("prev_c")).cast("double") /
              col("prev_c").cast("double")), 6).as("value_growth"))
        .withColumn("flag",
          when(col("n_growth").isNull, "first")
            .when(abs(col("n_growth")) >= 0.2, "swing")
            .otherwise("steady"))
        .orderBy("event_type", "wk")
    }),

    // Theil–Sen robust trend (round 17) — the median-of-pairwise-slopes
    // estimator (29% breakdown) for "is this metric drifting", immune to
    // the spikes an OLS slope chases: slope = median over all day pairs
    // of (n_j − n_i)/(d_j − d_i), per type over daily volumes. Pair
    // enumeration is a within-type self-join over the CALENDAR-bounded
    // daily relation (≤ |days|²/2 per type — never event-bounded); each
    // slope is ONE IEEE division of exact ints (correctly rounded both
    // engines), and the median interpolates two slopes with (a+b)/2 —
    // also exact-identical. Emitted with the pair count and a rising
    // flag at the 6dp-rounded slope. The daily counts come from the
    // staged hourly spine ([[dailyCounts]]), not a scan of events; the
    // oracle still replays them from raw events.
    "win_trend_theil_sen" -> ((s, dir) => {
      val daily = dailyCounts(s, dir)
        .withColumn("d", datediff(col("day"), lit("1970-01-01")))
      val slopes = daily.as("x").join(daily.as("y"),
          col("x.event_type") === col("y.event_type") &&
            col("x.d") < col("y.d"))
        .select(col("x.event_type").as("event_type"),
          ((col("y.n") - col("x.n")).cast("double") /
            (col("y.d") - col("x.d")).cast("double")).as("slope"))
      slopes.groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          expr("round(percentile(slope, 0.5), 6)").as("slope_per_day"))
        .select(col("event_type"), col("n_pairs"), col("slope_per_day"),
          (col("slope_per_day") > 0).as("rising"))
        .orderBy("event_type")
    }),

    // Autocorrelation function (round 17) — the lag-k self-correlation
    // of hourly volumes per type (k = 1..3), the diagnostic that tells a
    // monitor WHICH seasonal/cusum baseline to trust (high ACF = the
    // series is momentum-driven and a per-window z-score whipsaws). The
    // series is the DENSIFIED hourly volume (shared denseHourly spine —
    // zero-volume hours are real observations; a rollup-only lag would
    // silently treat hours across a gap as adjacent, r17 review
    // finding). One lag() window emits all three (lag_k, y) pairs via
    // an exploded struct array; per (type, k) the only aggregates are
    // exact integer sums (n, Σx, Σy, Σxy, Σx², Σy²) in DECIMAL(38,0) —
    // a long Σx² overflows once hourly counts pass ~3e9 (the
    // agg_ab_ttest envelope; x·y is computed in long FIRST, inside that
    // envelope, then widened; DuckDB sums in HUGEINT) — and the Pearson
    // r over them is ONE double expression written with identical
    // association in the oracle, NULL-gated when either variance term
    // is 0 (constant series). Scale: one corpus pass to the hourly
    // rollup; everything after runs on calendar-bounded rows.
    "win_acf" -> ((s, dir) => {
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val hourly = denseHourly(s, dir)
      val w = Window.partitionBy("event_type").orderBy("hw")
      val lagged = hourly
        // window exprs first, THEN the generator — a lag() inside
        // explode()'s argument is an unsupported operator combination
        .withColumns(Map(
          "l1" -> lag(col("n"), 1).over(w),
          "l2" -> lag(col("n"), 2).over(w),
          "l3" -> lag(col("n"), 3).over(w)))
        .withColumn("p", explode(array((1 to 3).map(k =>
          struct(lit(k).as("k"), col(s"l$k").as("y"))): _*)))
        .where(col("p.y").isNotNull)
        .select(col("event_type"), col("p.k").as("lag_k"),
          col("n").as("x"), col("p.y").as("y"))
      val g = lagged.groupBy("event_type", "lag_k").agg(
        count(lit(1)).as("np"),
        sum(d38(col("x"))).as("sx"), sum(d38(col("y"))).as("sy"),
        // cast BEFORE multiplying (r20 review): a count past ~3e9 would
        // wrap the Long product silently; the decimal product is exact
        sum(d38(col("x")) * d38(col("y"))).as("sxy"),
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        sum(d38(col("y")) * d38(col("y"))).as("syy"))
      val num = col("np").cast("double") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")
      val d1 = col("np").cast("double") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      val d2 = col("np").cast("double") * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")
      val ok = d1 > 0 && d2 > 0
      g.select(col("event_type"), col("lag_k"), col("np").as("n_pairs"),
          when(ok, round(num / (sqrt(d1) * sqrt(d2)), 6)).as("acf"))
        .orderBy("event_type", "lag_k")
    }),

    "win_rolling_median" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-4, Window.currentRow)
      Tables.table(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice").as("total"),
          array_sort(collect_list(col("o_totalprice")).over(w)).as("fr"))
        .select(col("o_custkey"), col("o_orderkey"), col("total"),
          element_at(col("fr"), ((size(col("fr")) + 1) / 2)
            .cast("int")).as("med5"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // 7-day trailing average of daily revenue. Pre-aggregate to one row per
    // day first — the global range-frame window then runs over ~2.4k rows,
    // not the fact table, which is what keeps an unpartitioned ordered
    // window viable at any input scale.
    // Daily revenue is summed in exact integer cents (a double sum's value
    // depends on partition order, and a 7-day average of it once landed on
    // a .xx5 rounding boundary — cent-exact inputs make the divide+round
    // bit-identical between Spark and the DuckDB oracle).
    "win_range_frame" -> ((s, dir) => {
      val daily = Tables.table(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("rev_cents"))
        .withColumn("d",
          datediff(col("day"), lit("1995-01-01").cast("date")))
      // No round() at all: long/long `/` is IEEE double division of exact
      // integers, bit-identical in Spark and DuckDB — round(x, 2) on a
      // true .xx5 boundary is engine-dependent and flaked twice here.
      val w = Window.orderBy("d").rangeBetween(-6, 0)
      daily.select(col("day").cast("timestamp").as("day_ts"),
                   (sum("rev_cents").over(w) / count(lit(1)).over(w) / 100)
                     .as("avg7"))
        .orderBy("day_ts")
    }),

    "win_ntile_firstlast" -> ((s, dir) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.table(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          ntile(4).over(w).as("quart"),
          first("c_acctbal").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("top_bal"),
          last("c_acctbal").over(
            w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
            .as("bot_bal"))
        .orderBy("c_mktsegment", "c_custkey")
    }),

    // Distribution analytics: percent_rank + cume_dist per priority over
    // total price. Order key is (price, key) — a TOTAL order, so both
    // functions are exactly reproducible rationals; rounded 6dp on both
    // sides only to keep the text representation stable.
    "win_distribution" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.table(s, dir, "orders")
        .select(col("o_orderpriority").as("prio"), col("o_orderkey"),
          D.r6(percent_rank().over(w)).as("pr"),
          D.r6(cume_dist().over(w)).as("cd"))
        .orderBy("prio", "o_orderkey")
    }),

    // Batch sessionization (gaps-and-islands): a >30 min silence starts a
    // new session; sessions are numbered per user by a running sum over
    // the session-start flags, then reduced to per-session stats. Both
    // windows AND the final groupBy hash on user_id, so the whole chain
    // is one shuffle + per-user sorts — per-user row counts bound the
    // task state, which is what keeps this shape viable at 100 TB (the
    // batch twin of stream_session's gap semantics).
    "win_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("tss"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("tss", date_trunc("second", col("ts")))
        .withColumn("new_sess",
          when(lag("tss", 1).over(w).isNull ||
               unix_timestamp(col("tss")) -
                 unix_timestamp(lag("tss", 1).over(w)) > 1800, 1L)
            .otherwise(0L))
        .withColumn("sess_no", sum("new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess_no")
        .agg(count(lit(1)).as("n_events"),
          min("tss").as("sess_start"),
          (unix_timestamp(max(col("tss"))) -
            unix_timestamp(min(col("tss")))).as("dur_s"))
        .orderBy("user_id", "sess_no")
    }),

    // Time-interval RANGE frame: per-user rolling 1-hour window — the
    // event-time twin of the numeric range frame (`win_range_frame`).
    // Frame membership is defined by the timestamp VALUE (tie-safe by
    // construction), computed on the SECOND-truncated ts: the raw column
    // carries sub-µs nanos that Spark truncates to µs while the DuckDB
    // oracle keeps ns, so an untruncated frame boundary could admit a row
    // in one engine and not the other. The rolling sum is carried in
    // integer cents (value has 2dp) so no float accumulation order can
    // perturb the hash. One shuffle on user_id; per-user sorted frames,
    // same bounded-task-state posture as every window here.
    /** Marketing-touch attribution (round 20) — the revenue-credit
      * readout every growth/marketing warehouse ships, and the one
      * classic event-stream workload the surface still lacked next to
      * funnel/sessionize/markov: each purchase's cents are credited to
      * the click/view touches in its 7-day lookback, under BOTH standard
      * models at once — last-touch (the whole purchase to the latest
      * touch; ties at the same second break to click, NULL-safe) and
      * linear (cents split pro-rata across the window's touch counts).
      * The lookback frame is RANGE [−7 d, −1 s] over whole seconds —
      * strictly-earlier touches only, so a purchase can never attribute
      * to itself or to same-second noise, and the frame is replayable
      * verbatim in DuckDB. Money stays in exact integer cents; the only
      * FP is the linear split's one multiply + one divide per purchase
      * (bitwise identical per term in both engines) summed under r2.
      * Scale shape: ONE window pass per user (four aggregates share the
      * same frame — one hash exchange on user_id, one per-user sort,
      * frame state bounded by the 7-day touch count), then a global
      * 1-row aggregate stacked into the 3-channel report — no joins, no
      * second fact scan. */
    "win_attribution" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("t"))
        .rangeBetween(-604800L, -1L)
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_timestamp(date_trunc("second", col("ts"))).as("t"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      val pu = e
        .withColumn("n_click",
          count(when(col("event_type") === "click", 1)).over(w))
        .withColumn("n_view",
          count(when(col("event_type") === "view", 1)).over(w))
        .withColumn("lc",
          max(when(col("event_type") === "click", col("t"))).over(w))
        .withColumn("lv",
          max(when(col("event_type") === "view", col("t"))).over(w))
        .where(col("event_type") === "purchase")
        .withColumn("nt", col("n_click") + col("n_view"))
        .withColumn("channel",
          when(col("lc").isNull && col("lv").isNull, lit("unattributed"))
            .when(col("lv").isNull ||
              (col("lc").isNotNull && col("lc") >= col("lv")), lit("click"))
            .otherwise(lit("view")))
      def lt(ch: String) = (
        count(when(col("channel") === ch, 1)),
        sum(when(col("channel") === ch, col("cents"))))
      val (nc, cc) = lt("click"); val (nv, cv) = lt("view")
      val (nu, cu) = lt("unattributed")
      def linShare(n: org.apache.spark.sql.Column) =
        sum(when(col("nt") > 0, col("cents") * n / col("nt"))
          .otherwise(lit(0.0)))
      val g = pu.agg(
        nc.as("n_c"), cc.as("c_c"), nv.as("n_v"), cv.as("c_v"),
        nu.as("n_u"), cu.as("c_u"),
        linShare(col("n_click")).as("l_c"),
        linShare(col("n_view")).as("l_v"),
        sum(when(col("nt") === 0, col("cents").cast("double"))
          .otherwise(lit(0.0))).as("l_u"))
      def row(ch: String, n: String, c: String, l: String) =
        struct(lit(ch).as("channel"), col(n).as("n_last_touch"),
          coalesce(col(c), lit(0L)).as("lt_cents"),
          D.r2(col(l)).as("lin_cents"))
      g.select(explode(array(
          row("click", "n_c", "c_c", "l_c"),
          row("unattributed", "n_u", "c_u", "l_u"),
          row("view", "n_v", "c_v", "l_v"))).as("r"))
        .select("r.*")
        .orderBy("channel")
    }),

    /** Rolling cross-series correlation (round 20) — the co-movement
      * monitor ops dashboards run between two activity series (does
      * purchase volume still track click volume this day?): trailing
      * 24-hour Pearson between the click and purchase hourly counts.
      * Series come from the SAME staged dense spine every other hourly
      * key reads (absent type-hours are real zeros); all five window
      * sums (n, Σx, Σy, Σxy, Σx², Σy²) are EXACT integers
      * (decimal(38,0) — the win_acf overflow posture), so the Pearson
      * arithmetic is the identical double expression in both engines
      * and the only rounding is the final r6. Degenerate windows (a
      * constant series → zero variance) yield NULL by the d1>0∧d2>0
      * guard, same as win_acf. Scale shape: the windows run over the
      * HOURLY relation (calendar-bounded — ~9k rows/year), single
      * ordered frame on one partition, exactly the win_range_frame
      * contract; the fact-scale work is the staged pre-aggregate. */
    "win_rolling_corr" -> ((s, dir) => {
      val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val xy = denseHourly(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .groupBy("hw")
        .agg(
          coalesce(sum(when(col("event_type") === "click", col("n"))),
            lit(0L)).as("x"),
          coalesce(sum(when(col("event_type") === "purchase", col("n"))),
            lit(0L)).as("y"))
      val w = Window.orderBy("hw").rowsBetween(-23, 0)
      val dd = (c: org.apache.spark.sql.Column) => c.cast("double")
      val g = xy.select(col("hw"), col("x"), col("y"),
        count(lit(1)).over(w).as("np"),
        sum(d38(col("x"))).over(w).as("sx"),
        sum(d38(col("y"))).over(w).as("sy"),
        // cast BEFORE multiplying (matches the oracle's HUGEINT-first
        // products): an hourly count past ~3e9 would overflow the Long
        // product silently while the decimal product stays exact
        sum(d38(col("x")) * d38(col("y"))).over(w).as("sxy"),
        sum(d38(col("x")) * d38(col("x"))).over(w).as("sxx"),
        sum(d38(col("y")) * d38(col("y"))).over(w).as("syy"))
      g.select(col("hw"), col("x"), col("y"),
          col("np").as("n_hours"),
          (dd(col("np")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy")))
            .as("num"),
          (dd(col("np")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx")))
            .as("d1"),
          (dd(col("np")) * dd(col("syy")) - dd(col("sy")) * dd(col("sy")))
            .as("d2"))
        .select(col("hw"), col("x"), col("y"), col("n_hours"),
          when(col("d1") > 0 && col("d2") > 0,
            round(col("num") / (sqrt(col("d1")) * sqrt(col("d2"))), 6))
            .as("corr24"))
        .orderBy("hw")
    }),

    "win_time_range" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(TimeRangeSql)
    }),

    // Gap imputation — forward-fill + backward-fill of a sparse
    // measurement (the sensor/metrics backfill every time-series ETL
    // runs). The measurement is value where the event is a
    // purchase/signup, NULL elsewhere (~60% sparse); fills COPY doubles
    // (no arithmetic), so per-row values stay bitwise-identical across
    // engines. Both frames share the (user_id, (tss, event_id)) window
    // → one hash exchange, one per-user sort, bounded task state.
    "win_fill_forward" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("tss"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("tss", date_trunc("second", col("ts")))
        .withColumn("v",
          when(col("event_type").isin("purchase", "signup"), col("value")))
        .select(col("event_id"), col("user_id"), col("v"),
          last("v", ignoreNulls = true)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("ffill"),
          first("v", ignoreNulls = true)
            .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
            .as("bfill"))
        .orderBy("event_id")
    }),

    // Linear gap interpolation (round 16) — the time-series repair step
    // one level up from win_fill_forward's copy-fills: missing points get
    // the LINE between their observed neighbors, what metrics backfills
    // and sensor pipelines actually ship. Series = hourly cent sums per
    // event_type (exact ints); gaps = hours absent from the data plus a
    // deterministic dropout mask (hour-of-day % 5 == 2 — the planted-
    // failure posture of sink_vacuum's orphan formula, so the key
    // exercises real interior gaps at every SF). The hour spine comes
    // from a per-type explode(sequence) (agg_calendar_spine's shape — no
    // cross join); neighbor value AND position ride four IGNORE-NULLS
    // frames over ONE (event_type, t) sort; the interpolation arithmetic
    // is one exact-int double division, one multiply, one add — written
    // with identical association in the oracle — rounded 6dp. Edge gaps
    // (before the first / after the last observation) hold the nearest
    // neighbor. Scale shape: the windows run over the HOURLY relation
    // (|types|·hours rows), never the fact table; one hash exchange on
    // event_type, per-task state bounded by the series length.
    "win_interpolate_linear" -> ((s, dir) => {
      // Own cents-valued hourly spine (denseHourly carries counts),
      // same staged shape via the shared builder; gaps stay NULL — they
      // ARE the missing observations the interpolation exists to fill.
      val m = denseHourlySpine(s, dir, "dense_hourly_cents_v2", "hr",
        sum(round(col("value") * 100, 0).cast("long")), "cents", None)
        .withColumn("is_masked", hour(col("hr")) % 5 === 2)
        .withColumn("v", when(!col("is_masked"), col("cents")))
        .withColumn("t", (unix_timestamp(col("hr")) / 3600L).cast("long"))
      val w = Window.partitionBy("event_type").orderBy("t")
      val wp = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val prevV = last("v", ignoreNulls = true).over(wp)
      val prevT =
        last(when(col("v").isNotNull, col("t")), ignoreNulls = true).over(wp)
      val nextV = first("v", ignoreNulls = true).over(wn)
      val nextT =
        first(when(col("v").isNotNull, col("t")), ignoreNulls = true).over(wn)
      m.select(col("event_type"), col("hr"), col("is_masked"), col("v"),
          col("t"),
          prevV.as("pv"), prevT.as("pt"), nextV.as("nv"), nextT.as("nt"))
        .select(col("event_type"), col("hr"), col("is_masked"),
          col("v").as("v_obs"),
          round(
            when(col("v").isNotNull, col("v").cast("double"))
              .when(col("pv").isNotNull && col("nv").isNotNull,
                col("pv") + (col("nv") - col("pv")) *
                  ((col("t") - col("pt")) / (col("nt") - col("pt"))))
              .otherwise(coalesce(col("pv"), col("nv")).cast("double")),
            6).as("v_interp"),
          when(col("v").isNotNull, "obs")
            .when(col("pv").isNotNull && col("nv").isNotNull, "interp")
            .otherwise("edge").as("src"))
        .orderBy("event_type", "hr")
    }),

    // Gaps-and-islands — consecutive-day activity streaks per user (the
    // engagement-streak query; also the canonical "islands" rewrite every
    // SQL engine is judged on). distinct (user, day) first — the window
    // then ranks DAYS, not events, so per-user task state is bounded by
    // calendar days regardless of event volume; `day − row_number` is
    // constant within a run of consecutive days, making the island key
    // with zero self-joins. Two hash aggs after the one user_id window.
    "win_gap_islands" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("d")
      Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        .withColumn("grp", date_sub(col("d"), row_number().over(w)))
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"), min("d").as("start_d"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_streaks"),
          max(col("len")).as("max_streak"),
          sum(col("len")).as("n_active_days"),
          date_format(min(col("start_d")), "yyyy-MM-dd").as("first_day"))
        .orderBy("user_id")
    }),

    /** CUSUM change-point monitor (round 17) — the sequential
      * drift detector dq_anomaly_volume's per-window z-score can't be:
      * CUSUM accumulates SMALL persistent shifts (S_t = max(0, S_{t-1} +
      * (x_t − μ)) over hourly volumes) that never individually trip a
      * z-threshold. The recursion looks driver-side but ISN'T: the
      * standard closed form S_t = P_t − min(0, min_{j≤t} P_j) (P = the
      * cumulative deviation sum) makes it two running windows. The
      * whole computation runs in INTEGER space — deviations are scaled
      * by the per-type hour count (d′ = n·x − total, so μ never becomes
      * a double mid-stream) because a windowed DOUBLE cumsum is
      * association-sensitive (DuckDB's segment-tree windows sum in a
      * different order than Spark's running frame — exact ints are
      * order-free); the single division by n happens once per OUTPUT
      * row. Alarm = S > μ/4 ⟺ 4·S′ > total, again pure integers.
      * Scale: the observed hourly counts come from the staged spine
      * ([[hourlyCounts]] — types × hours rows, no events scan; the
      * oracle replays them from raw events), then windows over that
      * BOUNDED hours-per-type relation. */
    "win_cusum" -> ((s, dir) => {
      val hourly = hourlyCounts(s, dir)
        .select(col("event_type"), col("hw").as("hr"), col("n").as("x"))
      val tw = Window.partitionBy("event_type")
      val rw = Window.partitionBy("event_type").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hourly
        .withColumn("n", count(lit(1)).over(tw))
        .withColumn("tot", sum(col("x")).over(tw))
        .withColumn("dd", col("n") * col("x") - col("tot"))
        .withColumn("p", sum(col("dd")).over(rw))
      cum.withColumn("m", least(lit(0L), min(col("p")).over(rw)))
        .select(col("event_type"), unix_timestamp(col("hr")).as("hr_ts"),
          col("x"),
          round((col("p") - col("m")).cast("double") / col("n"), 4)
            .as("cusum"),
          ((col("p") - col("m")) * 4 > col("tot")).as("alarm"))
        .orderBy("event_type", "hr_ts")
    })
  )

  private val eventsW = "PARTITION BY user_id ORDER BY tss, event_id"
  private val custW =
    "PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey"

  /** denseHourly's DuckDB replay, ending in `d(event_type, hw, n)` —
    * one constant shared by the dense-spine oracles so the spine rule
    * can never drift between them; the join is NULL-safe on event_type
    * like the Spark side's. */
  private val DenseHourlyCte =
    "h AS (SELECT date_trunc('hour', ts) AS hw, event_type, " +
    "count(*) AS n FROM events GROUP BY 1, 2), " +
    "sp AS (SELECT event_type, " +
    "unnest(generate_series(min(hw), max(hw), INTERVAL 1 HOUR)) AS hw " +
    "FROM h GROUP BY event_type), " +
    "d AS (SELECT sp.event_type, sp.hw, " +
    "CAST(coalesce(h.n, 0) AS BIGINT) AS n FROM sp " +
    "LEFT JOIN h ON sp.event_type IS NOT DISTINCT FROM h.event_type " +
    "AND sp.hw = h.hw)"

  val oracles: Map[String, String] = Map(
    // Same dense spine, same exact-integer window sums (HUGEINT ↔
    // decimal(38,0)), same double Pearson expression + d1/d2 guard.
    "win_rolling_corr" ->
      ("WITH " + DenseHourlyCte + ", " +
        "xy AS (SELECT hw, " +
        "CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN n END), 0) " +
        "AS BIGINT) AS x, " +
        "CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN n END), 0) " +
        "AS BIGINT) AS y " +
        "FROM d WHERE event_type IN ('click', 'purchase') GROUP BY hw), " +
        "g AS (SELECT hw, x, y, count(*) OVER w AS np, " +
        "sum(CAST(x AS HUGEINT)) OVER w AS sx, " +
        "sum(CAST(y AS HUGEINT)) OVER w AS sy, " +
        "sum(CAST(x AS HUGEINT) * y) OVER w AS sxy, " +
        "sum(CAST(x AS HUGEINT) * x) OVER w AS sxx, " +
        "sum(CAST(y AS HUGEINT) * y) OVER w AS syy FROM xy " +
        "WINDOW w AS (ORDER BY hw ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)), " +
        "k AS (SELECT hw, x, y, np, " +
        "CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num, " +
        "CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS d1, " +
        "CAST(np AS DOUBLE) * CAST(syy AS DOUBLE) - " +
        "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS d2 FROM g) " +
        "SELECT hw, x, y, CAST(np AS BIGINT) AS n_hours, " +
        "CASE WHEN d1 > 0 AND d2 > 0 THEN " +
        "round(num / (sqrt(d1) * sqrt(d2)), 6) END AS corr24 " +
        "FROM k ORDER BY hw"),
    // Same strictly-earlier RANGE frame, same NULL-safe tie-to-click
    // rule, same one-multiply-one-divide linear term; money in exact
    // cents, linear sums rounded r2 on both sides.
    "win_attribution" ->
      ("WITH e AS (SELECT user_id, event_type, " +
        "CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t, " +
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events), " +
        "p AS (SELECT *, " +
        "count(CASE WHEN event_type = 'click' THEN 1 END) OVER w AS n_click, " +
        "count(CASE WHEN event_type = 'view' THEN 1 END) OVER w AS n_view, " +
        "max(CASE WHEN event_type = 'click' THEN t END) OVER w AS lc, " +
        "max(CASE WHEN event_type = 'view' THEN t END) OVER w AS lv " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t " +
        "RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING)), " +
        "pu AS (SELECT *, n_click + n_view AS nt, " +
        "CASE WHEN lc IS NULL AND lv IS NULL THEN 'unattributed' " +
        "WHEN lv IS NULL OR (lc IS NOT NULL AND lc >= lv) THEN 'click' " +
        "ELSE 'view' END AS channel FROM p WHERE event_type = 'purchase'), " +
        "g AS (SELECT " +
        "count(CASE WHEN channel = 'click' THEN 1 END) AS n_c, " +
        "sum(CASE WHEN channel = 'click' THEN cents END) AS c_c, " +
        "count(CASE WHEN channel = 'view' THEN 1 END) AS n_v, " +
        "sum(CASE WHEN channel = 'view' THEN cents END) AS c_v, " +
        "count(CASE WHEN channel = 'unattributed' THEN 1 END) AS n_u, " +
        "sum(CASE WHEN channel = 'unattributed' THEN cents END) AS c_u, " +
        "sum(CASE WHEN nt > 0 THEN cents * n_click / nt ELSE 0.0 END) AS l_c, " +
        "sum(CASE WHEN nt > 0 THEN cents * n_view / nt ELSE 0.0 END) AS l_v, " +
        "sum(CASE WHEN nt = 0 THEN CAST(cents AS DOUBLE) ELSE 0.0 END) AS l_u " +
        "FROM pu) " +
        "SELECT 'click' AS channel, n_c AS n_last_touch, " +
        "CAST(coalesce(c_c, 0) AS BIGINT) AS lt_cents, " +
        "round(l_c, 2) AS lin_cents FROM g " +
        "UNION ALL SELECT 'unattributed', n_u, " +
        "CAST(coalesce(c_u, 0) AS BIGINT), round(l_u, 2) FROM g " +
        "UNION ALL SELECT 'view', n_v, " +
        "CAST(coalesce(c_v, 0) AS BIGINT), round(l_v, 2) FROM g " +
        "ORDER BY channel"),

    // The identical integer recurrence replayed as a recursive CTE over
    // the same dense spine (depth = hours — calendar-bounded; the
    // dedup_cluster recursion precedent). Validated against an
    // independent Python reference at 3 SFs before landing.
    "win_changepoint" ->
      ("WITH RECURSIVE " + DenseHourlyCte + ", " +
       "idx AS (SELECT event_type, hw, n, " +
       "row_number() OVER (PARTITION BY event_type ORDER BY hw) AS t " +
       "FROM d), " +
       "tm AS (SELECT event_type, max(t) AS tmax FROM idx GROUP BY 1), " +
       "bs24 AS (SELECT event_type, " +
       "CAST(coalesce(sum(n), 0) AS BIGINT) AS bs " +
       "FROM idx WHERE t <= 24 GROUP BY event_type), " +
       "st(event_type, t, su, sd, na, alarms, mu, md) AS (" +
       "SELECT event_type, CAST(24 AS BIGINT), CAST(0 AS BIGINT), " +
       "CAST(0 AS BIGINT), CAST(0 AS BIGINT), '', " +
       "CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM bs24 " +
       "UNION ALL " +
       "SELECT i.event_type, i.t, " +
       "CASE WHEN greatest(0, st.su + (192*i.n - 9*b.bs)) > 24*b.bs " +
       "OR greatest(0, st.sd + (7*b.bs - 192*i.n)) > 24*b.bs " +
       "THEN 0 ELSE greatest(0, st.su + (192*i.n - 9*b.bs)) END, " +
       "CASE WHEN greatest(0, st.su + (192*i.n - 9*b.bs)) > 24*b.bs " +
       "OR greatest(0, st.sd + (7*b.bs - 192*i.n)) > 24*b.bs " +
       "THEN 0 ELSE greatest(0, st.sd + (7*b.bs - 192*i.n)) END, " +
       "st.na + CASE WHEN greatest(0, st.su + (192*i.n - 9*b.bs)) > 24*b.bs " +
       "OR greatest(0, st.sd + (7*b.bs - 192*i.n)) > 24*b.bs " +
       "THEN 1 ELSE 0 END, " +
       "st.alarms || CASE " +
       "WHEN greatest(0, st.su + (192*i.n - 9*b.bs)) > 24*b.bs " +
       "THEN (CASE WHEN st.alarms = '' THEN '' ELSE '|' END) || " +
       "CAST(CAST(epoch(i.hw) AS BIGINT) AS VARCHAR) || ':up' " +
       "WHEN greatest(0, st.sd + (7*b.bs - 192*i.n)) > 24*b.bs " +
       "THEN (CASE WHEN st.alarms = '' THEN '' ELSE '|' END) || " +
       "CAST(CAST(epoch(i.hw) AS BIGINT) AS VARCHAR) || ':dn' " +
       "ELSE '' END, " +
       "greatest(st.mu, greatest(0, st.su + (192*i.n - 9*b.bs))), " +
       "greatest(st.md, greatest(0, st.sd + (7*b.bs - 192*i.n))) " +
       "FROM st " +
       "JOIN idx i ON i.event_type = st.event_type AND i.t = st.t + 1 " +
       "JOIN bs24 b ON b.event_type = st.event_type) " +
       "SELECT s.event_type, b2.bs AS base_24h, s.na AS n_alarms, " +
       "s.alarms, s.mu AS max_up, s.md AS max_dn " +
       "FROM st s JOIN tm ON tm.event_type = s.event_type " +
       // greatest(tmax, 24): a type whose dense span is under 24 hours
       // never recurses past the anchor (t=24) — pick the anchor so the
       // type still emits its warm-up-only row like the Spark fold does
       // (empty seq → init state), instead of vanishing (r19 review).
       "AND s.t = greatest(tm.tmax, 24) " +
       "JOIN bs24 b2 ON b2.event_type = s.event_type " +
       "ORDER BY s.event_type"),
    // same daily rollup, same within-type pair join; quantile_cont on
    // doubles ≡ percentile (both interpolate the two middles as exact
    // IEEE (a+b)/2)
    "win_trend_theil_sen" ->
      ("WITH daily0 AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, " +
       "event_type, count(*) AS n FROM events GROUP BY 1, 2), " +
       "daily AS (SELECT event_type, n, " +
       "datediff('day', DATE '1970-01-01', day) AS d FROM daily0), " +
       "sl AS (SELECT x.event_type, " +
       "CAST(y.n - x.n AS DOUBLE) / CAST(y.d - x.d AS DOUBLE) AS slope " +
       "FROM daily x JOIN daily y ON x.event_type = y.event_type " +
       "AND x.d < y.d) " +
       "SELECT event_type, count(*) AS n_pairs, " +
       "round(quantile_cont(slope, 0.5), 6) AS slope_per_day, " +
       "round(quantile_cont(slope, 0.5), 6) > 0 AS rising " +
       "FROM sl GROUP BY 1 ORDER BY 1"),
    // same densified per-type hour spine, three lag() blocks unioned,
    // HUGEINT sums, the identical Pearson double tree NULL-gated on
    // zero variance
    "win_acf" -> {
      val blocks = (1 to 3).map { k =>
        s"SELECT event_type, $k AS lag_k, n AS x, " +
        s"lag(n, $k) OVER (PARTITION BY event_type ORDER BY hw) AS y FROM d"
      }.mkString(" UNION ALL ")
      "WITH " + DenseHourlyCte + ", " +
      s"lg AS (SELECT * FROM ($blocks) WHERE y IS NOT NULL), " +
      "g AS (SELECT event_type, lag_k, count(*) AS np, " +
      "CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy, " +
      // HUGEINT-first products (r20 review, mirrors the Spark side's
      // decimal-first cast): BIGINT x*y would overflow-THROW at scale
      "sum(CAST(x AS HUGEINT) * y) AS sxy, " +
      "sum(CAST(x AS HUGEINT) * x) AS sxx, " +
      "sum(CAST(y AS HUGEINT) * y) AS syy " +
      "FROM lg GROUP BY 1, 2), " +
      "k AS (SELECT event_type, lag_k, np, " +
      "CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num, " +
      "CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS d1, " +
      "CAST(np AS DOUBLE) * CAST(syy AS DOUBLE) - " +
      "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS d2 FROM g) " +
      "SELECT event_type, CAST(lag_k AS INT) AS lag_k, " +
      "CAST(np AS BIGINT) AS n_pairs, " +
      "CASE WHEN d1 > 0 AND d2 > 0 THEN " +
      "round(num / (sqrt(d1) * sqrt(d2)), 6) END AS acf " +
      "FROM k ORDER BY event_type, lag_k"
    },
    // same first-day rule, week truncation, DIV-7 offsets; integer
    // cents with a HUGEINT-safe cumulative window, identical division
    "win_cohort_ltv" ->
      ("WITH e AS (SELECT user_id, " +
       "CAST(date_trunc('day', ts) AS DATE) AS day, event_type, " +
       "CAST(round(value * 100) AS BIGINT) AS c FROM events), " +
       "f AS (SELECT user_id, min(day) AS f FROM e GROUP BY 1), " +
       "rev AS (SELECT CAST(date_trunc('week', f.f) AS TIMESTAMP) " +
       "AS cohort, CAST(datediff('day', f.f, e.day) // 7 AS INT) " +
       "AS \"offset\", CAST(sum(e.c) AS BIGINT) AS cents " +
       "FROM e JOIN f ON e.user_id = f.user_id " +
       "WHERE e.event_type = 'purchase' GROUP BY 1, 2), " +
       "sz AS (SELECT CAST(date_trunc('week', f) AS TIMESTAMP) AS cohort, " +
       "count(*) AS n_cohort FROM f GROUP BY 1), " +
       "k AS (SELECT rev.cohort, rev.\"offset\", sz.n_cohort, rev.cents, " +
       "CAST(sum(rev.cents) OVER (PARTITION BY rev.cohort " +
       "ORDER BY rev.\"offset\" ROWS BETWEEN UNBOUNDED PRECEDING AND " +
       "CURRENT ROW) AS BIGINT) AS cum_cents " +
       "FROM rev JOIN sz ON rev.cohort = sz.cohort) " +
       "SELECT cohort AS cohort_week, \"offset\", n_cohort, cents, " +
       "cum_cents, round(CAST(cum_cents AS DOUBLE) / " +
       "CAST(n_cohort AS DOUBLE) / 100, 6) AS ltv_per_user " +
       "FROM k ORDER BY cohort_week, \"offset\""),
    // same distinct-activity relation, ISO week truncation, DIV-7
    // offsets, identical rounded division
    "win_retention_cohort" ->
      ("WITH act AS (SELECT DISTINCT user_id, " +
       "CAST(date_trunc('day', ts) AS DATE) AS day FROM events), " +
       "f AS (SELECT user_id, min(day) AS f FROM act GROUP BY 1), " +
       "o AS (SELECT DISTINCT " +
       "CAST(date_trunc('week', f.f) AS TIMESTAMP) AS cohort, " +
       "act.user_id, " +
       "CAST(datediff('day', f.f, act.day) // 7 AS INT) AS \"offset\" " +
       "FROM act JOIN f ON act.user_id = f.user_id), " +
       "sz AS (SELECT CAST(date_trunc('week', f) AS TIMESTAMP) AS cohort, " +
       "count(*) AS n_cohort FROM f GROUP BY 1) " +
       "SELECT o.cohort AS cohort_week, o.\"offset\", sz.n_cohort, " +
       "count(*) AS n_active, " +
       "round(CAST(count(*) AS DOUBLE) / CAST(sz.n_cohort AS DOUBLE), 6) " +
       "AS retention FROM o JOIN sz ON o.cohort = sz.cohort " +
       "GROUP BY o.cohort, o.\"offset\", sz.n_cohort " +
       "ORDER BY cohort_week, \"offset\""),

    // same densified spine; the identical Holt fold via list_reduce.
    // The state rides a DOUBLE[2] list, not a struct: DuckDB's fold is
    // seedless (acc starts as the FIRST element, so acc and element
    // types must match) and its struct-typed lambda CASE mis-unifies
    // field types (probed: a struct fold returned DECIMAL l and a
    // wrong b on this DuckDB) — the homogeneous-list encoding sidesteps
    // both. The l_2/b_2 seed is prepended explicitly ([x_2, x_2 − x_1])
    // and the fold runs from x_3, exactly the Spark side's recurrence;
    // the one-observation edge NULL-gates the trend via the outer CASE.
    "win_forecast_des" -> {
      val lN = "e[1] * CAST(0.25 AS DOUBLE) + " +
        "(a[1] + a[2]) * CAST(0.75 AS DOUBLE)"
      "WITH " + DenseHourlyCte + ", " +
      "g AS (SELECT event_type, " +
      "list(CAST(n AS DOUBLE) ORDER BY hw) AS xs FROM d GROUP BY 1), " +
      "f AS (SELECT event_type, len(xs) AS n_hours, " +
      "CASE WHEN len(xs) = 1 THEN [xs[1], CAST(NULL AS DOUBLE)] " +
      "ELSE list_reduce(list_prepend([xs[2], xs[2] - xs[1]], " +
      "list_transform(xs[3:], v -> [v, CAST(0 AS DOUBLE)])), " +
      s"(a, e) -> [$lN, " +
      s"($lN - a[1]) * CAST(0.125 AS DOUBLE) + " +
      "a[2] * CAST(0.875 AS DOUBLE)]) END AS st FROM g) " +
      "SELECT event_type, CAST(n_hours AS INT) AS n_hours, " +
      "round(st[1], 6) AS level, round(st[2], 6) AS trend, " +
      "round(st[1] + st[2], 6) AS forecast_next " +
      "FROM f ORDER BY event_type"
    },
    // The 26-list fold replay: acc = [l, b, s1..s24], elements wrapped
    // as 1-lists (the DES list_prepend init trick); identical
    // association per step, so the final doubles are bit-exact.
    "win_forecast_hw" -> {
      val lN = "(e[1] - a[3]) * CAST(0.25 AS DOUBLE) + " +
        "(a[1] + a[2]) * CAST(0.75 AS DOUBLE)"
      "WITH " + DenseHourlyCte + ", " +
      "g AS (SELECT event_type, " +
      "list(CAST(n AS DOUBLE) ORDER BY hw) AS xs FROM d GROUP BY 1), " +
      "i AS (SELECT event_type, xs, len(xs) AS n_hours, " +
      "list_reduce(xs[1:24], (a, e) -> a + e) / CAST(24 AS DOUBLE) " +
      "AS l0 FROM g), " +
      "f AS (SELECT event_type, n_hours, " +
      "list_reduce(list_prepend(" +
      "list_concat([l0, CAST(0 AS DOUBLE)], " +
      "list_transform(xs[1:24], v -> v - l0)), " +
      "list_transform(xs[25:], v -> [v])), " +
      s"(a, e) -> list_concat(list_concat([$lN, " +
      s"(($lN) - a[1]) * CAST(0.125 AS DOUBLE) + " +
      "a[2] * CAST(0.875 AS DOUBLE)], a[4:]), " +
      s"[(e[1] - ($lN)) * CAST(0.25 AS DOUBLE) + " +
      "a[3] * CAST(0.75 AS DOUBLE)])) AS st FROM i) " +
      "SELECT event_type, CAST(n_hours AS INT) AS n_hours, " +
      "round(st[1], 6) AS level, round(st[2], 6) AS trend, " +
      "round(st[3], 6) AS season_next, " +
      "round(st[1] + st[2] + st[3], 6) AS forecast_next " +
      "FROM f ORDER BY event_type"
    },
    // Same ISO-week rollup (date_trunc('week') is Monday-start on both
    // engines), same lag pair, the identical exact-int growth division.
    "win_wow_growth" ->
      ("WITH wk AS (SELECT event_type, date_trunc('week', ts) AS wk, " +
       "count(*) AS n, " +
       "sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents " +
       "FROM events GROUP BY 1, 2), " +
       "g AS (SELECT event_type, wk, n, cents, " +
       "lag(n, 1) OVER (PARTITION BY event_type ORDER BY wk) AS prev_n, " +
       "lag(cents, 1) OVER (PARTITION BY event_type ORDER BY wk) AS prev_c " +
       "FROM wk) " +
       "SELECT event_type, wk, CAST(n AS BIGINT) AS n, " +
       "CAST(prev_n AS BIGINT) AS prev_n, " +
       "round(CAST(n - prev_n AS DOUBLE) / CAST(prev_n AS DOUBLE), 6) " +
       "AS n_growth, " +
       "round(CASE WHEN prev_c = 0 THEN NULL " +
       "ELSE CAST(cents - prev_c AS DOUBLE) / CAST(prev_c AS DOUBLE) " +
       "END, 6) AS value_growth, " +
       "CASE WHEN prev_n IS NULL THEN 'first' " +
       "WHEN abs(round(CAST(n - prev_n AS DOUBLE) / " +
       "CAST(prev_n AS DOUBLE), 6)) >= 0.2 THEN 'swing' " +
       "ELSE 'steady' END AS flag " +
       "FROM g ORDER BY event_type, wk"),
    // same densified spine, same (type, hour-of-day) slot windows over
    // exact ints, same single division/subtraction
    "win_seasonal_baseline" ->
      ("WITH " + DenseHourlyCte + ", " +
       "k AS (SELECT event_type, hw, CAST(hour(hw) AS INT) AS hod, n, " +
       "CAST(sum(n) OVER (PARTITION BY event_type, hour(hw)) AS BIGINT) " +
       "AS s1, " +
       "count(*) OVER (PARTITION BY event_type, hour(hw)) AS cnt FROM d) " +
       "SELECT event_type, hw, hod, n, " +
       "round(CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE), 6) AS expected, " +
       "round(CAST(n AS DOUBLE) - " +
       "CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE), 6) AS residual " +
       "FROM k ORDER BY event_type, hw"),
    "win_time_range" -> TimeRangeSql,
    "win_distribution" ->
      ("SELECT o_orderpriority AS prio, o_orderkey, " +
       "round(percent_rank() OVER (PARTITION BY o_orderpriority " +
       "ORDER BY o_totalprice, o_orderkey), 6) AS pr, " +
       "round(cume_dist() OVER (PARTITION BY o_orderpriority " +
       "ORDER BY o_totalprice, o_orderkey), 6) AS cd " +
       "FROM orders ORDER BY prio, o_orderkey"),
    "win_row_number_topk" ->
      ("SELECT o_custkey, rn, o_orderkey, total FROM " +
       "(SELECT o_custkey, o_orderkey, o_totalprice AS total, " +
       "row_number() OVER (PARTITION BY o_custkey " +
       "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) " +
       "WHERE rn <= 3 ORDER BY o_custkey, rn"),
    "win_rank_dense" ->
      ("SELECT p_brand, p_partkey, p_retailprice AS price, " +
       "rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rnk, " +
       "dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS drnk " +
       "FROM part ORDER BY p_brand, p_partkey"),
    "win_lag_lead" ->
      ("WITH e AS (SELECT event_id, user_id, date_trunc('second', ts) AS tss FROM events) " +
       "SELECT event_id, user_id, " +
       s"coalesce(CAST(epoch(tss) AS BIGINT) - CAST(epoch(lag(tss) OVER ($eventsW)) AS BIGINT), -1) AS gap_prev, " +
       s"coalesce(CAST(epoch(lead(tss) OVER ($eventsW)) AS BIGINT) - CAST(epoch(tss) AS BIGINT), -1) AS gap_next " +
       "FROM e ORDER BY event_id"),
    "win_running_sum" ->
      ("SELECT o_custkey, o_orderkey, " +
       "round(sum(o_totalprice) OVER (PARTITION BY o_custkey " +
       "ORDER BY o_orderdate, o_orderkey " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run " +
       "FROM orders ORDER BY o_custkey, o_orderkey"),
    "win_rolling_median" ->
      // Same mechanics as the Spark side: list the frame, sort, take the
      // lower median by 1-based index (m+1)//2 — selection, no
      // arithmetic.
      ("WITH f AS (SELECT o_custkey, o_orderkey, o_totalprice AS total, " +
       "list_sort(list(o_totalprice) OVER (PARTITION BY o_custkey " +
       "ORDER BY o_orderdate, o_orderkey " +
       "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS fr FROM orders) " +
       "SELECT o_custkey, o_orderkey, total, " +
       "fr[CAST((len(fr) + 1) // 2 AS INTEGER)] AS med5 " +
       "FROM f ORDER BY o_custkey, o_orderkey"),
    "win_range_frame" ->
      ("WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, " +
       "sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS rev_cents, " +
       "date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS d " +
       "FROM orders GROUP BY 1, 3) " +
       "SELECT CAST(day AS TIMESTAMP) AS day_ts, " +
       "CAST(sum(rev_cents) OVER w AS DOUBLE) / count(*) OVER w / 100 " +
       "AS avg7 FROM daily " +
       "WINDOW w AS (ORDER BY d RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) " +
       "ORDER BY day_ts"),
    "win_ntile_firstlast" ->
      ("SELECT c_mktsegment, c_custkey, c_acctbal, " +
       s"ntile(4) OVER ($custW) AS quart, " +
       s"first_value(c_acctbal) OVER ($custW " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS top_bal, " +
       s"last_value(c_acctbal) OVER ($custW " +
       "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bot_bal " +
       "FROM customer ORDER BY c_mktsegment, c_custkey"),
    "win_sessionize" ->
      ("WITH e AS (SELECT user_id, event_id, date_trunc('second', ts) AS tss " +
       "FROM events), " +
       s"f AS (SELECT user_id, event_id, tss, CASE WHEN lag(tss) OVER ($eventsW) " +
       "IS NULL OR CAST(epoch(tss) AS BIGINT) - " +
       s"CAST(epoch(lag(tss) OVER ($eventsW)) AS BIGINT) > 1800 " +
       "THEN 1 ELSE 0 END AS new_sess FROM e), " +
       // CAST to BIGINT: DuckDB's integer sum() widens to HUGEINT → float64
       // in the driver hash, vs Spark's BIGINT (r9 verdict root cause).
       s"g AS (SELECT user_id, tss, CAST(sum(new_sess) OVER ($eventsW " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_no FROM f) " +
       "SELECT user_id, sess_no, count(*) AS n_events, min(tss) AS sess_start, " +
       "CAST(epoch(max(tss)) AS BIGINT) - CAST(epoch(min(tss)) AS BIGINT) " +
       "AS dur_s FROM g GROUP BY 1, 2 ORDER BY user_id, sess_no"),
    // Same spine, mask, frames, and interpolation text (identical
    // association: pv + (nv - pv) * ((t - pt) / (nt - pt))); hour index
    // from floor-epoch (exact hour-truncated seconds / 3600 — exact).
    "win_interpolate_linear" ->
      ("WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hr, " +
       "CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents " +
       "FROM events GROUP BY 1, 2), " +
       "b AS (SELECT event_type, min(hr) AS h0, max(hr) AS h1 " +
       "FROM hourly GROUP BY 1), " +
       "spine AS (SELECT event_type, " +
       "unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM b), " +
       "m AS (SELECT s.event_type, s.hr, " +
       "hour(s.hr) % 5 = 2 AS is_masked, " +
       "CASE WHEN hour(s.hr) % 5 = 2 THEN NULL ELSE h.cents END AS v, " +
       "CAST(floor(epoch(s.hr)) / 3600 AS BIGINT) AS t " +
       "FROM spine s LEFT JOIN hourly h " +
       "ON s.event_type IS NOT DISTINCT FROM h.event_type " +
       "AND s.hr = h.hr), " +
       "f AS (SELECT *, " +
       "last_value(v IGNORE NULLS) OVER wp AS pv, " +
       "last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) " +
       "OVER wp AS pt, " +
       "first_value(v IGNORE NULLS) OVER wn AS nv, " +
       "first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) " +
       "OVER wn AS nt FROM m " +
       "WINDOW wp AS (PARTITION BY event_type ORDER BY t " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
       "wn AS (PARTITION BY event_type ORDER BY t " +
       "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
       "SELECT event_type, hr, is_masked, v AS v_obs, " +
       "round(CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE) " +
       "WHEN pv IS NOT NULL AND nv IS NOT NULL " +
       "THEN pv + (nv - pv) * ((t - pt) / (nt - pt)) " +
       "ELSE CAST(coalesce(pv, nv) AS DOUBLE) END, 6) AS v_interp, " +
       "CASE WHEN v IS NOT NULL THEN 'obs' " +
       "WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp' " +
       "ELSE 'edge' END AS src " +
       "FROM f ORDER BY event_type, hr"),
    "win_fill_forward" ->
      ("WITH e AS (SELECT event_id, user_id, date_trunc('second', ts) AS tss, " +
       "CASE WHEN event_type IN ('purchase', 'signup') THEN value END AS v " +
       "FROM events) " +
       "SELECT event_id, user_id, v, " +
       s"last_value(v IGNORE NULLS) OVER ($eventsW " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill, " +
       s"first_value(v IGNORE NULLS) OVER ($eventsW " +
       "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bfill " +
       "FROM e ORDER BY event_id"),
    "win_gap_islands" ->
      ("WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d " +
       "FROM events), " +
       "isl AS (SELECT user_id, d, d - CAST(row_number() OVER " +
       "(PARTITION BY user_id ORDER BY d) AS INT) AS grp FROM days), " +
       "st AS (SELECT user_id, grp, count(*) AS len, min(d) AS start_d " +
       "FROM isl GROUP BY 1, 2) " +
       "SELECT user_id, count(*) AS n_streaks, max(len) AS max_streak, " +
       "CAST(sum(len) AS BIGINT) AS n_active_days, " +
       "strftime(min(start_d), '%Y-%m-%d') AS first_day " +
       "FROM st GROUP BY user_id ORDER BY user_id"),
    // Integer-space CUSUM closed form: scaled deviations n·x − total,
    // running sum + running min windows (exact ints — a double cumsum
    // would be association-sensitive across engines), one division and
    // one integer alarm comparison per output row.
    "win_cusum" ->
      ("WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr, " +
       "count(*) AS x FROM events GROUP BY 1, 2), " +
       "t AS (SELECT event_type, count(*) AS n, " +
       "CAST(sum(x) AS BIGINT) AS tot FROM h GROUP BY 1), " +
       "d AS (SELECT h.event_type, h.hr, h.x, t.n, t.tot, " +
       "t.n * h.x - t.tot AS dd FROM h JOIN t USING (event_type)), " +
       "c AS (SELECT *, CAST(sum(dd) OVER (PARTITION BY event_type " +
       "ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
       "AS BIGINT) AS p FROM d), " +
       "c2 AS (SELECT *, least(CAST(0 AS BIGINT), min(p) OVER " +
       "(PARTITION BY event_type ORDER BY hr " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS m FROM c) " +
       "SELECT event_type, CAST(epoch(hr) AS BIGINT) AS hr_ts, x, " +
       "round(CAST(p - m AS DOUBLE) / n, 4) AS cusum, " +
       "(p - m) * 4 > tot AS alarm " +
       "FROM c2 ORDER BY event_type, hr_ts")
  )
}
