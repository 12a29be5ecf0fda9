package graft.ops

import graft.{D, Staging, Tables}
import graft.QueryDefs.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY.md §2.3 joins — one declared query per join family/algorithm.
  *
  * Algorithm choice is pinned with hints (`broadcast`, `shuffle_hash`,
  * `merge`) so each key exercises its named physical operator regardless of
  * table statistics. At 100 TB the same hints encode the right plan: dims
  * (nation/region/supplier/part-subset) are broadcast — zero shuffle of the
  * fact side; the two large-side joins (orders⋈lineitem) shuffle both sides
  * on the join key, which is unavoidable and scales linearly; the theta join
  * broadcasts its (filtered, small) build side under a nested-loop — never
  * the fact side; existence joins (semi/anti) over a fact build shuffle
  * both sides and hash-build keys only (`existenceJoin`) — never a
  * broadcast of every fact row; the as-of join is a single shuffle on the
  * entity key plus a per-key sorted window — no join explosion at all.
  */
object Joins {

  /** `left_semi` / `left_anti` join of `probe` against a fact-sized
    * `build`, pinned to a shuffled hash join that builds on `build`.
    *
    * Catalyst sizes a pruned, compressed parquet scan by its file bytes
    * (about 3 MB for 1.5M `orders` keys on the 10× replica), so without a
    * hint it broadcasts the build: the driver collects every build row
    * into a `HashedRelation` (~96 MB there) and ships it to every
    * executor. An existence join needs only the distinct keys, and
    * `ShuffledHashJoinExec` builds its per-partition relation with
    * `ignoreDuplicatedKey` for semi/anti joins; the broadcast relation has
    * no such mode. The shuffle costs the build's key column once and
    * keeps the same plan at every scale, so no size threshold picks
    * between the two.
    *
    * Only for plain (not null-aware) existence joins: `NOT IN` plans as a
    * null-aware anti join, which Spark runs only as a broadcast. */
  private[graft] def existenceJoin(probe: DataFrame, build: DataFrame,
                                   cond: Column, joinType: String): DataFrame =
    probe.join(build.hint("shuffle_hash"), cond, joinType)

  /** The backward as-of fill shared by join_asof and
    * join_asof_tolerance (r17 review: the tolerance key originally
    * copy-pasted the whole union+window machinery — a tie/truncation
    * convention change would have had to land in two places): per
    * PURCHASE row, the latest signup at-or-before it. One user_id
    * window over the unioned event stream ordered (tss ASC, event_type
    * DESC — 'signup' > 'purchase' lexicographically, so a same-second
    * signup lands in the preceding frame, matching DuckDB ASOF's
    * `>=`); one exchange, one per-user sort, never a row×row time
    * join. Returns (event_id, user_id, tss, prev_signup ∅-able). */
  private def asofBackfill(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame = {
    val e = Tables.events(s, dir)
      .where(col("event_type").isin("purchase", "signup"))
      .select(col("event_id"), col("user_id"),
              date_trunc("second", col("ts")).as("tss"), col("event_type"))
      .withColumn("sig_ts",
        when(col("event_type") === "signup", col("tss")))
    val w = Window.partitionBy("user_id")
      .orderBy(col("tss").asc, col("event_type").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("prev_signup", last("sig_ts", ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select("event_id", "user_id", "tss", "prev_signup")
  }

  val queries: Map[String, Q] = Map(
    // Fact → three broadcast dims; revenue of ASIA nations (TPC-H Q5 shape).
    "join_broadcast" -> ((s, dir) => {
      val li = Tables.table(s, dir, "lineitem")
      val sup = Tables.table(s, dir, "supplier")
      val nat = Tables.table(s, dir, "nation")
      val reg = Tables.table(s, dir, "region").where(col("r_name") === "ASIA")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(D.r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue"))
        .orderBy("n_name")
    }),

    // Two large sides, forced ShuffledHashJoinExec (no sort, hash build on
    // the smaller shuffled side — the right pick when one side fits a
    // per-partition hash table but not a broadcast).
    "join_shuffle_hash" -> ((s, dir) => {
      val o = Tables.table(s, dir, "orders")
      val l = Tables.table(s, dir, "lineitem")
      o.hint("shuffle_hash").join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
             D.r2(sum("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    // Same shape, forced SortMergeJoinExec (spillable — the safe default
    // when both sides are huge and skew-prone).
    "join_sort_merge" -> ((s, dir) => {
      val o = Tables.table(s, dir, "orders")
      val l = Tables.table(s, dir, "lineitem")
      o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
             D.r2(avg("l_extendedprice")).as("avg_price"))
        .orderBy("o_orderstatus")
    }),

    // count(o_orderkey) counts only matched rows → zero-order customers
    // survive with n_orders = 0 and no null columns reach the output.
    "join_left_outer" -> ((s, dir) => {
      val c = Tables.table(s, dir, "customer")
      val o = Tables.table(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }),

    "join_right_outer" -> ((s, dir) => {
      val c = Tables.table(s, dir, "customer")
      val o = Tables.table(s, dir, "orders")
      o.join(c, col("o_custkey") === col("c_custkey"), "right")
        .groupBy("c_custkey")
        .agg(D.r2(sum(coalesce(col("o_totalprice"), lit(0.0))))
          .as("spend"))
        .orderBy("c_custkey")
    }),

    // Distinct custkey sets of F-orders vs O-orders, full outer; output is
    // null-free (membership booleans) so the driver's hasher never sees a
    // numeric NaN.
    "join_full_outer" -> ((s, dir) => {
      val o = Tables.table(s, dir, "orders")
      val f = o.where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("f_ck")).distinct()
      val op = o.where(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("o_ck")).distinct()
      f.join(op, col("f_ck") === col("o_ck"), "full")
        .select(coalesce(col("f_ck"), col("o_ck")).as("ck"),
                col("f_ck").isNotNull.as("in_f"),
                col("o_ck").isNotNull.as("in_o"))
        .orderBy("ck")
    }),

    "join_left_semi" -> ((s, dir) => {
      val c = Tables.table(s, dir, "customer")
      val o = Tables.table(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
      existenceJoin(c, o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    "join_left_anti" -> ((s, dir) => {
      val c = Tables.table(s, dir, "customer")
      val o = Tables.table(s, dir, "orders")
      existenceJoin(c, o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // Bounded 5×25 cartesian → BroadcastNestedLoopJoinExec.
    "join_cross" -> ((s, dir) =>
      Tables.table(s, dir, "region").select("r_name")
        .crossJoin(Tables.table(s, dir, "nation").select("n_name"))
        .orderBy("r_name", "n_name")),

    // Banded non-equi join: small filtered build side is broadcast under a
    // nested loop; the fact side streams — the only theta-join plan that
    // survives a 100× fact-side scale-up.
    "join_theta_range" -> ((s, dir) => {
      val p = Tables.table(s, dir, "part").where(col("p_size") <= 6)
        .select("p_partkey", "p_size")
      val l = Tables.table(s, dir, "lineitem")
        .where(col("l_quantity") < 10 &&
               col("l_shipdate") >= lit("2001-06-01").cast("timestamp"))
        .select("l_quantity")
      broadcast(p).join(
          l, col("l_quantity").between(col("p_size") - 2, col("p_size") + 2))
        .groupBy("p_size")
        .agg(count(lit(1)).as("cnt"), D.r2(avg("l_quantity")).as("avg_qty"))
        .orderBy("p_size")
    }),

    // Band join via BUCKET EXPANSION — the scale-safe rewrite of
    // join_theta_range for when NEITHER side broadcasts: each fact row
    // hashes to ONE width-W value bucket, each band [v−2, v+2] replicates
    // to the ≤2 buckets it can overlap, and the join becomes a plain
    // EQUI-join on the bucket id with the band test as residual — a
    // shuffle join on a real key instead of a nested loop over row pairs.
    // Lossless: floor is monotone, so every in-band pair shares the
    // fact row's bucket. Identical result to join_theta_range (the
    // oracle IS the plain band join); SortMergeJoin plan-asserted via
    // the merge hint — the shape a 100 TB × 100 GB band join must take.
    "join_band_bucketed" -> ((s, dir) => {
      val W = 5
      val p = Tables.table(s, dir, "part").where(col("p_size") <= 6)
        .select(col("p_partkey"), col("p_size"),
          explode(sequence(floor((col("p_size") - 2) / W),
            floor((col("p_size") + 2) / W))).as("bk"))
      val l = Tables.table(s, dir, "lineitem")
        .where(col("l_quantity") < 10 &&
               col("l_shipdate") >= lit("2001-06-01").cast("timestamp"))
        .select(col("l_quantity"),
          floor(col("l_quantity") / W).as("bk"))
      p.hint("merge")
        .join(l, p("bk") === l("bk") &&
          col("l_quantity").between(col("p_size") - 2, col("p_size") + 2))
        .groupBy("p_size")
        .agg(count(lit(1)).as("cnt"), D.r2(avg("l_quantity")).as("avg_qty"))
        .orderBy("p_size")
    }),

    // Interval join: purchases matched to signup windows [ts, ts+1h] of the
    // same user. The equi user_id key makes this a hash join with the range
    // as residual — no nested loop even at scale. Timestamps compared at
    // second granularity on both engines (Spark stores micros, DuckDB nanos;
    // sub-second deltas must not decide membership — §7.3).
    "join_interval" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("tss", date_trunc("second", col("ts")))
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
                col("tss").as("p_ts"))
      val sg = e.where(col("event_type") === "signup")
        .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
                col("tss").as("s_ts"))
      p.join(sg, col("user_id") === col("s_user") &&
                 col("p_ts") >= col("s_ts") &&
                 col("p_ts") <= col("s_ts") + expr("INTERVAL 1 HOUR"))
        .select("p_id", "s_id")
        .orderBy("p_id", "s_id")
    }),

    // As-of: each purchase gets the user's most recent prior (<=) signup.
    // No native asof in Spark — union the two event kinds, one window pass
    // per user carrying the last signup ts forward. Single shuffle on
    // user_id, per-key sort; state is one timestamp per row. At equal
    // truncated seconds the signup sorts first ('signup' > 'purchase'
    // descending), matching ASOF's inclusive >= bound.
    "join_asof" -> ((s, dir) =>
      asofBackfill(s, dir)
        .where(col("prev_signup").isNotNull)
        .select(col("event_id").as("p_id"), col("user_id"),
                col("prev_signup"))
        .orderBy("p_id")),

    // As-of join with TOLERANCE (round 17; pandas merge_asof
    // tolerance=, kdb wj with a window bound) — the market-data form:
    // a quote older than the staleness bound must NOT price the trade.
    // The SHARED asofBackfill derivation (one definition with
    // join_asof — the tie/truncation convention cannot drift between
    // the two keys), but every purchase row survives (left semantics)
    // and the matched signup is NULL-gated behind gap ≤ 1 h. The gap is
    // integer seconds on second-truncated stamps (exact both engines);
    // a purchase with no prior signup at all carries NULLs through the
    // same gate (NULL gap fails ≤ identically in both engines). Scale:
    // unchanged from join_asof — one exchange on user_id, one per-user
    // sort, never a row×row time join.
    "join_asof_tolerance" -> ((s, dir) =>
      asofBackfill(s, dir)
        .withColumn("gap_s",
          unix_timestamp(col("tss")) - unix_timestamp(col("prev_signup")))
        .select(col("event_id").as("p_id"), col("user_id"),
          when(col("gap_s") <= 3600, col("prev_signup")).as("matched_signup"),
          when(col("gap_s") <= 3600, col("gap_s")).as("gap_s"))
        .orderBy("p_id")),

    // As-of join, NEAREST direction (pandas merge_asof
    // direction='nearest'; kdb wj) — each purchase matched to the closest
    // signup in EITHER time direction, ties to the earlier one. Same
    // union-sort machinery as `join_asof`: one user_id window carries
    // both the backward fill (last signup ≤ t) and the forward fill
    // (first signup ≥ t) over mirrored frames — one exchange, one
    // per-user sort, never a row×row time join. Gap arithmetic is integer
    // seconds on second-truncated stamps, so the tie test is exact.
    "join_asof_nearest" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .where(col("event_type").isin("purchase", "signup"))
        .select(col("event_id"), col("user_id"),
                date_trunc("second", col("ts")).as("tss"), col("event_type"))
        .withColumn("sig_ts",
          when(col("event_type") === "signup", col("tss")))
      val ord = Window.partitionBy("user_id")
        .orderBy(col("tss").asc, col("event_type").desc, col("event_id"))
      val prevS = last("sig_ts", ignoreNulls = true)
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      val nextS = first("sig_ts", ignoreNulls = true)
        .over(ord.rowsBetween(Window.currentRow, Window.unboundedFollowing))
      val gp = unix_timestamp(col("tss")) - unix_timestamp(col("prev_s"))
      val gn = unix_timestamp(col("next_s")) - unix_timestamp(col("tss"))
      val takePrev = col("next_s").isNull ||
        (col("prev_s").isNotNull && gp <= gn)
      e.withColumn("prev_s", prevS).withColumn("next_s", nextS)
        .where(col("event_type") === "purchase" &&
               (col("prev_s").isNotNull || col("next_s").isNotNull))
        .select(col("event_id").as("p_id"), col("user_id"),
          when(takePrev, col("prev_s")).otherwise(col("next_s"))
            .as("nearest_signup"),
          when(takePrev, lit("prev")).otherwise(lit("next")).as("dir"),
          when(takePrev, gp).otherwise(gn).as("gap_s"))
        .orderBy("p_id")
    }),

    // Salted join — the hot-key mitigation for when one join key carries a
    // disproportionate share of the fact table (AQE's skew-join splits
    // post-shuffle partitions, but salting is the portable fix that also
    // works mid-pipeline and under bucketing). The fact side gets a
    // deterministic salt in [0,8) derived from its ROW identity (not the
    // key — that's the point: rows of one hot key spread over 8 shuffle
    // partitions); the dim side is replicated once per salt via a
    // sequence-explode. Join on (key, salt) ⇒ identical result to the
    // plain equi-join (the oracle IS the plain join), 8× the dim rows
    // shuffled (cheap — dims are small) in exchange for an 8-way fan-out
    // of every hot fact key.
    "join_skew_salted" -> ((s, dir) => {
      val Salts = 8
      val e = Tables.events(s, dir)
        .withColumn("salt", pmod(xxhash64(col("event_id")), lit(Salts)))
      val c = Tables.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          explode(sequence(lit(0), lit(Salts - 1))).as("salt"))
      e.join(c, col("user_id") === col("c_custkey") &&
          e("salt") === c("salt"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          D.r2(sum("value")).as("sum_value"))
        .orderBy("c_mktsegment")
    }),

    // Bucketed co-located join — the "pre-shuffle once, join many times
    // for free" pattern: orders and lineitem are persisted bucketed by
    // their join key into the same bucket count, so the sort-merge join
    // reads co-located buckets with NO Exchange on either side (asserted
    // by PlanAuditSpec). At 100 TB this is how a fact table that joins on
    // the same key in every pipeline run amortizes its shuffle to zero.
    "join_bucketed" -> ((s, dir) => {
      Joins.ensureBucketed(s, dir)
      val o = s.table(bucketedName(dir, "orders"))
      val l = s.table(bucketedName(dir, "lineitem"))
      // merge hint pins SortMergeJoinExec (at tiny test SFs AQE would
      // broadcast instead and never exercise the bucketed path).
      o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          D.r2(sum(col("l_quantity"))).as("sum_qty"))
        .orderBy("o_orderstatus")
    }),

    // NULL-AWARE anti join: `NOT IN (subquery)` has three-valued
    // semantics — one NULL in the subquery empties the result — so a
    // plain hash anti join is wrong and Catalyst must plan the
    // null-aware variant (single-column NAAJ lowers to a
    // BroadcastHashJoin with isNullAwareAntiJoin=true; PlanAuditSpec
    // asserts it). The nullif keeps the planner honest — it cannot
    // prove the inner side non-null — while the data keeps the output
    // non-degenerate. SQL text because NOT IN subqueries have no
    // DataFrame-API spelling; the oracle is the identical SQL.
    "join_null_anti" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(NullAntiSql)
    }),

    // LATERAL correlated join: top-2 customers per nation — the inner
    // subquery references the outer row and carries ORDER BY + LIMIT, so
    // Catalyst must decorrelate a per-row dependent subquery
    // (DecorrelateInnerQuery rewrites the correlated limit into a
    // partitioned rank — one shuffle on the correlation key, never a
    // per-outer-row rescan of customer). SQL text: LATERAL has no
    // DataFrame spelling; the oracle is the identical SQL.
    "join_lateral" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(LateralSql)
    }),

    // Blocked fuzzy join (entity resolution): match a "dirty registry"
    // (customer names with 1–2 deterministic digit substitutions — the
    // OCR/typo error model) back to the clean dimension, match predicate
    // = same nation ∧ same 9-char name prefix (the entity-namespace tag;
    // the error model only corrupts digits, and ER systems hard-match
    // their namespace keys) ∧ Hamming distance ≤ 2 over the fixed-width
    // name.
    // Scale shape — never all-pairs:
    //  - candidates come from PIGEONHOLE BLOCKING: the 9 digit positions
    //    are split into 3 residue classes (positions ≡ i mod 3); ≤ 2
    //    substitutions touch ≤ 2 classes, so every true match shares at
    //    least one (class, value) block — the candidate set is provably
    //    LOSSLESS. Interleaving (rather than contiguous slices) matters:
    //    each class then contains a low-order digit, so block values stay
    //    near-uniform instead of the high-digit classes collapsing into
    //    one giant all-rows block (the dense-key PassJoin failure mode).
    //  - the nation key rides in the block (composite blocking), cutting
    //    candidate mass |nations|-fold — entity resolution always scopes
    //    fuzzy matching under its hard keys.
    //  - verification is exact Hamming computed in INTEGER space (the
    //    digit suffix decomposed to a long once per row; 9 div/mod terms
    //    per candidate), then best-match = min(struct(distance, key)) —
    //    a two-phase hash aggregate with map-side partials, no window
    //    sort; n_matches pins the full verified-candidate mass so a
    //    lossy blocking change cannot pass.
    // Candidate volume tracks the true-match volume (output-bounded) —
    // the best any lossless ED join can do on a dense key domain.
    "join_fuzzy_blocked" -> ((s, dir) => {
      val cust = Tables.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      // LAZY localCheckpoint = a projection barrier: without it,
      // CollapseProject re-inlines the full nested corruption CASE into
      // every downstream reference of d_name (pre/num/segv/filters), the
      // generated stage blows past Janino's 64 KB method limit and the
      // whole verify stage runs INTERPRETED (r14 review finding — the
      // very degradation class this key's comments document). The
      // barrier computes the dirty registry once, at first action
      // (plan-only consumers never execute it). In production the dirty
      // registry is an INPUT table, not a derived frame — the barrier
      // stands in for that table; lineage-loss-on-executor-failure is
      // the standard localCheckpoint trade and this relation is
      // dim-sized.
      val dirty = cust.select(col("c_custkey").as("d_id"),
          col("c_name").as("n0"), col("c_nationkey").as("d_nationkey"))
        .withColumn("n1", expr(corruptSql("n0", "d_id % 9", "d_id")))
        .withColumn("d_name",
          when(col("d_id") % 3 === 0,
            expr(corruptSql("n1", "(d_id * 5 + 3) % 9", "d_id")))
          .otherwise(col("n1")))
        .select("d_id", "d_name", "d_nationkey")
        .localCheckpoint(false)
      // Per-ROW enrichment (once per input row, NOT per candidate): the
      // 9-char prefix, the digit suffix decomposed to a LONG, and the 3
      // segment values. Everything evaluated per CANDIDATE below is then
      // integer arithmetic / array element compares — the naive form (36
      // substring allocations per pair) measured 3.3 s on the 1.2M
      // candidates at sf0.1; this form is register math. Rows whose
      // suffix does not parse as a number are dropped HERE (row level,
      // declared contract: the blocked key is `<prefix><9 digits>`; a
      // non-numeric suffix cannot arise from the digit-substitution
      // error model). Keeping a general 18-substring Hamming as a
      // conditional fallback instead measured +6 s at sf0.1 with the
      // branch never taken — the dead branch pushed the generated
      // method past the JIT's HugeMethodLimit and the whole stage ran
      // interpreted.
      def enrich(df: DataFrame, name: Column): DataFrame = (0 to 8)
        .foldLeft(df
          .withColumn("pre", substring(name, 1, 9))
          .withColumn("num", substring(name, 10, 9).cast("long"))
          .where(col("num").isNotNull && length(name) === 18)
          .withColumn("segv", array((0 to 2).map { i =>
            concat(substring(name, 10 + i, 1), substring(name, 13 + i, 1),
              substring(name, 16 + i, 1))
          }: _*))) { (d, i) =>
          // the 9 digits as per-ROW int columns: the per-CANDIDATE
          // Hamming then compares 9 attributes — the div/mod-per-
          // candidate form generated a 19 KB join-stage method, past the
          // JIT HugeMethodLimit (r14 plan sweep; PlanAuditSpec gates it)
          val p = math.pow(10, 8 - i).toLong
          d.withColumn(s"g$i", ((col("num") / p).cast("long") % 10)
            .cast("int"))
        }
      val dseg = enrich(dirty, col("d_name"))
        .select(Seq(col("d_id"), col("d_nationkey"),
          col("pre").as("d_pre"), col("segv").as("d_segv")) ++
          (0 to 8).map(i => col(s"g$i").as(s"dg$i")) :+
          posexplode(col("segv")).as(Seq("si", "sv")): _*)
      val cseg = enrich(cust, col("c_name"))
        .select(Seq(col("c_custkey"), col("c_nationkey"),
          col("pre").as("c_pre"), col("segv").as("c_segv")) ++
          (0 to 8).map(i => col(s"g$i").as(s"cg$i")) :+
          posexplode(col("segv")).as(Seq("si", "sv")): _*)
      // exact Hamming over the fixed 18-char names: with the prefix an
      // EQUI key of the block join (below), matched pairs agree on the
      // first 9 chars by construction, so the Hamming is exactly the 9
      // comparisons of the pre-extracted digit attributes. Keeping a
      // conditional unequal-prefix branch instead put the whole CASE —
      // twice, once in the join condition and once in the project —
      // at 8965 B of generated bytecode, past the JIT HugeMethodLimit
      // (r14 plan sweep; PlanAuditSpec gates it).
      val hamming = (0 to 8).map { i =>
        (col(s"dg$i") =!= col(s"cg$i")).cast("int")
      }.reduce(_ + _)
      // each pair exactly once WITHOUT a distinct shuffle: a candidate
      // from block i survives only if no EARLIER segment also matches
      // (the standard multi-block dedup-free filter) — element compares
      // on the per-row segment arrays, nothing recomputed per candidate
      val firstMatch = (0 to 2).map { j =>
        (lit(j) < dseg("si")) &&
          element_at(col("d_segv"), j + 1) ===
            element_at(col("c_segv"), j + 1)
      }.reduce(_ || _)
      val verified = dseg
        .join(cseg, dseg("si") === cseg("si") && dseg("sv") === cseg("sv") &&
          col("d_nationkey") === col("c_nationkey") &&
          col("d_pre") === col("c_pre"))
        .where(!firstMatch)
        .withColumn("hamming", hamming.cast("long"))
        .where(col("hamming") <= 2)
        .select("d_id", "c_custkey", "hamming")
      // best match = argmin (distance, key) — a two-phase hash aggregate
      // with map-side partial min/count, NOT a window: no per-group sort,
      // and the shuffle carries one partial row per (d_id, map partition)
      // instead of every verified pair (measured: the row_number form
      // cost 5+ s at sf0.1, this is sub-second). The (hamming, key) pair
      // is PACKED into one long (hamming << 32 | key — lexicographic ≡
      // numeric since key < 2³²): min over a struct buffer falls out of
      // HashAggregateExec into a sort-based aggregate, min over a long
      // stays codegen'd hash all the way (PlanAuditSpec pins this).
      verified
        .groupBy(col("d_id"))
        .agg(min(shiftleft(col("hamming"), 32) + col("c_custkey"))
          .as("best"), count(lit(1)).as("n_matches"))
        .select(col("d_id"),
          col("best").bitwiseAND(lit(0xFFFFFFFFL)).as("match_id"),
          shiftright(col("best"), 32).as("hamming"), col("n_matches"))
        .orderBy("d_id")
    }),

    // NULL-SAFE equality join (`<=>` / IS NOT DISTINCT FROM): the missing
    // null-semantics sibling of join_null_anti — a plain `=` join DROPS
    // rows whose key is NULL on either side (NULL = NULL is NULL), while
    // CDC/entity pipelines routinely join on nullable keys where NULL
    // must match NULL ("unknown" is a real group). The nullable key is
    // manufactured deterministically (nullif(nationkey, 3) — nation 3's
    // rows become the NULL group on BOTH sides) so the oracle replays it;
    // customers of nation 3 must pick up the NULL supplier-group's count,
    // which a plain equi join would lose. `<=>` is a hashable key
    // (EqualNullSafe), so this plans a normal hash join, not a nested
    // loop — same plan shape at 100 TB as any dim join.
    "join_null_safe" -> ((s, dir) => {
      val c = Tables.table(s, dir, "customer")
        .select(col("c_custkey"),
          nullif(col("c_nationkey"), lit(3)).as("nk"))
      val sup = Tables.table(s, dir, "supplier")
        .select(nullif(col("s_nationkey"), lit(3)).as("snk"))
        .groupBy("snk").agg(count(lit(1)).as("n_sup"))
      c.join(sup, col("nk") <=> col("snk"), "left")
        .select(col("c_custkey"), coalesce(col("n_sup"), lit(0L)).as("n_sup"))
        .orderBy("c_custkey")
    }),

    // STATISTICS-DRIVEN planning (the r14 verdict's #1 gap): every other
    // join key pins its algorithm with a hint — correct for determinism,
    // but at 100 TB the engine must also plan correctly when STATS, not
    // hints, drive selection. This key is deliberately hint-free: the
    // three inputs are ANALYZEd catalog tables (table + column stats),
    // the session is a CBO-scoped child (graft.Scoped — cbo.enabled +
    // joinReorder; scoped because CBO flips the stats visitor for EVERY
    // plan on a session, and the other 200+ keys are designed under the
    // default planner), and the join is WRITTEN in the worst order —
    // fact ⋈ fact first, the selective filtered dim last. Catalyst's
    // CostBasedJoinReorder must use the ANALYZE row counts + the
    // c_mktsegment column stats to rewrite it selective-first
    // (orders ⋈ σ(customer), then lineitem) — PlanAuditSpec asserts the
    // reorder happens with stats and does NOT without. The result is
    // order-independent, so the gate proves plan-shape changes only.
    // At 100 TB this is ANALYZE TABLE feeding the optimizer — the only
    // planning mode that survives queries nobody hand-hinted.
    "stats_cbo_broadcast" -> ((s, dir) => {
      ensureAnalyzed(s, dir)
      val cbo = graft.Scoped.session(s, "cbo", Seq(
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true",
        // catalog row counts + column stats flow into every logical
        // estimate (FilterEstimation selectivity etc.), not just the
        // reorder — the broadcast-decision flip PlanAuditSpec asserts
        // rides this conf
        "spark.sql.cbo.planStats.enabled" -> "true"))
      val l = cbo.table(analyzedName(dir, "lineitem"))
      val o = cbo.table(analyzedName(dir, "orders"))
      val c = cbo.table(analyzedName(dir, "customer"))
        .where(col("c_mktsegment") === "BUILDING")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(D.r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // RUNTIME bloom-filter join pruning (the r14 verdict's #2 gap): the
    // at-scale complement to static/dynamic partition pruning
    // (scan_pushdown / join_dpp). A selective dim-side filter cannot be
    // statically pushed into the fact scan — the surviving keys are only
    // known at runtime — so Spark's InjectRuntimeFilter plans a
    // bloom_filter_agg subquery over the filtered dim and applies
    // might_contain(xxhash64(l_orderkey)) on the fact side BEFORE its
    // shuffle: at 100 TB that drops ~97% of fact rows (this predicate's
    // selectivity) from the join exchange for one broadcast-scalar bloom
    // build. Scoped child session: the rule only fires on joins it can't
    // broadcast (no shuffle → nothing to save), and at test SF everything
    // fits the broadcast threshold — autoBroadcastJoinThreshold=-1 +
    // applicationSideScanSizeThreshold=0 recreate the at-scale shape
    // (where the 10 GB default threshold is EXCEEDED by the fact scan).
    // The merge hint pins the same SMJ with or without injection, so the
    // key measures/asserts exactly one variable; PlanAuditSpec asserts
    // might_contain over the fact scan. Result ≡ the plain join (a bloom
    // false positive only forwards a row the join then drops) — the
    // oracle is the unfiltered replay.
    "join_runtime_bloom" -> ((s, dir) => {
      val bf = graft.Scoped.session(s, "bloom", Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
      val ord = Tables.table(bf, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderstatus") === "F")
      val li = Tables.table(bf, dir, "lineitem")
      li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          D.r2(sum("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // AQE runtime skew-join split as a DECLARED key (round 20 — r19
    // verdict item 2: OptimizeSkewedJoin was spec-only while every other
    // runtime optimization — CBO reorder, bloom injection, DPP — has a
    // declared key). join_skew_salted proves the MANUAL mitigation; this
    // key runs the engine's own: ~90% of the fact side lands on one join
    // key (event_id % 10 < 9 → key 0) and AQE splits the hot reduce
    // partition at mapper boundaries at runtime. Thresholds are scoped
    // DOWN on a child session (skewedPartitionFactor 1 + 1 kB sizes)
    // so the toy corpus crosses them exactly the way a 100 TB hot key
    // crosses the defaults; broadcast is disabled so the join actually
    // plans as SMJ — the only shape the rule rewrites. The upstream
    // repartition(8) gives the hot partition eight mapper chunks (the
    // shape a real corpus's thousands of input splits give for free),
    // which also BOUNDS the split fan-out to ≤8. The downstream
    // aggregate is GLOBAL, deliberately: a groupBy on the join key would
    // require the join's hash partitioning and AQE refuses a skew split
    // that forces an extra shuffle. Result ≡ the plain join — the
    // oracle replays it from raw events (every k hits the dim exactly
    // once) — so the gate pins semantics while AqeSkewSpec asserts the
    // skew=true witness fires in THIS key's final adaptive plan and
    // disappears without the conf.
    "join_skew_aqe" -> ((s, dir) => {
      val sk = graft.Scoped.session(s, "aqe_skew", Seq(
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false"))
      val e = Tables.events(sk, dir)
        .select(when(col("event_id") % 10 < 9, lit(0L))
          .otherwise(col("event_id") % 1000).as("k"), col("value"))
        .repartition(8, col("value"))
      val d = sk.range(0, 1000)
        .select(col("id").as("k"), (col("id") * 2).as("w"))
      e.join(d, "k")
        .agg(count(lit(1)).as("n"), D.r2(sum("value")).as("sv"),
          sum(col("k") * col("w")).as("kw"))
    })
  )

  /** One deterministic digit substitution at 0-based digit position
    * `pos` (within the 9-digit suffix of `Customer#%09d`): the new digit
    * is old + 1 + (key mod 8), mod 10 — never equal to the old one. The
    * SAME text (chr/ascii/substr/concat are portable) is spliced into
    * the DuckDB oracle, so both engines corrupt identically. */
  private def corruptSql(nameCol: String, posExpr: String,
                         keyCol: String): String =
    s"concat(substr($nameCol, 1, 9 + $posExpr), " +
    s"chr(CAST(48 + (ascii(substr($nameCol, 10 + $posExpr, 1)) - 48 + 1 + " +
    s"$keyCol % 8) % 10 AS INT)), " +
    s"substr($nameCol, 11 + $posExpr, 8 - $posExpr))"

  private def corruptDuck(nameCol: String, posExpr: String): String =
    corruptSql(nameCol, posExpr, "d_id")

  /** Pigeonhole block i (i ∈ 0..2): the 3 digit chars at 1-based name
    * positions 10+i, 13+i, 16+i — the residue class i mod 3 of the
    * 9-digit suffix. */
  private def segDuck(name: String, i: Int): String =
    s"concat(substr($name, ${10 + i}, 1), substr($name, ${13 + i}, 1), " +
    s"substr($name, ${16 + i}, 1))"

  private[ops] val LateralSql =
    """SELECT n_name, c.c_name, c.c_acctbal
      |FROM nation,
      |LATERAL (SELECT c_name, c_acctbal FROM customer
      |         WHERE c_nationkey = n_nationkey
      |         ORDER BY c_acctbal DESC, c_name LIMIT 2) c
      |ORDER BY n_name, c.c_acctbal DESC, c.c_name""".stripMargin

  private[ops] val NullAntiSql =
    """SELECT o_orderkey, o_custkey, o_totalprice AS total
      |FROM orders
      |WHERE o_custkey NOT IN (
      |  SELECT nullif(c_custkey, -1) FROM customer WHERE c_acctbal < 100)
      |ORDER BY o_orderkey""".stripMargin

  private val Buckets = 8

  /** Catalog name for the ANALYZEd external tables `stats_cbo_broadcast`
    * plans against — fingerprint-keyed like [[bucketedName]], so stats
    * can never describe a regenerated file (the name changes and the old
    * entry is simply never referenced again). */
  private[graft] def analyzedName(dir: String, table: String): String =
    s"graft_cbo_${Tables.sourceFingerprint(Tables.path(dir, table))}_$table"

  /** Catalog names for the HISTOGRAM-CBO witness (r17 verdict item 9):
    * the SAME events files registered twice — `colstats` carries plain
    * column stats (ndv/min/max → uniform-interpolation selectivity),
    * `hist` is ANALYZEd under `spark.sql.statistics.histogram.enabled=
    * true` so an equi-height histogram rides its catalog entry. Only the
    * ANALYZE-time conf differs; the files are identical, which is what
    * lets PlanAuditSpec attribute a plan change to the histogram alone. */
  private[graft] def histStatsName(dir: String, variant: String): String =
    s"graft_${variant}_" +
      s"${Tables.sourceFingerprint(Tables.path(dir, "events"))}_events"

  /** Register + ANALYZE both histogram-witness tables (once per JVM —
    * same memoization story as [[ensureAnalyzed]]). The histogram
    * ANALYZE runs on a Scoped child session because the conf must be
    * live AT ANALYZE TIME (it changes what the command computes, not
    * how later plans read it) and must not leak into any other ANALYZE
    * in the JVM. Raw file schema on purpose: the witness only reads
    * (value, user_id), never the physically-drifting ts column. */
  private[graft] def ensureHistAnalyzed(s: SparkSession, dir: String): Unit =
    synchronized {
      val schema =
        s.read.parquet(Tables.path(dir, "events")).schema.toDDL
      def register(ss: SparkSession, name: String): Unit = {
        ss.sql(s"CREATE TABLE $name ($schema) USING parquet " +
          s"LOCATION '${Tables.path(dir, "events")}'")
        ss.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS " +
          "FOR COLUMNS value, user_id")
      }
      val plain = histStatsName(dir, "colstats")
      if (!s.catalog.tableExists(plain)) register(s, plain)
      val hist = histStatsName(dir, "hist")
      if (!s.catalog.tableExists(hist))
        register(graft.Scoped.session(s, "histAnalyze",
          Seq("spark.sql.statistics.histogram.enabled" -> "true")), hist)
    }

  /** EXTERNAL tables over the (read-only) source parquet + `ANALYZE TABLE
    * … COMPUTE STATISTICS FOR ALL COLUMNS` — the production warehouse
    * bootstrap for cost-based planning. No data is copied or written:
    * only catalog metadata (row count, per-column ndv/min/max) is
    * created, so this is memoized per JVM by `tableExists` alone (the
    * in-memory catalog dies with the JVM; the three ANALYZE scans are the
    * once-per-JVM cost a real warehouse pays once per ingest). The
    * external catalog is shared across all sessions of the context, so
    * stats computed here are visible to the CBO-scoped child session. */
  private[graft] def ensureAnalyzed(s: SparkSession, dir: String): Unit =
    synchronized {
      for (t <- Seq("customer", "orders", "lineitem")) {
        val name = analyzedName(dir, t)
        if (!s.catalog.tableExists(name)) {
          val schema = Tables.table(s, dir, t).schema.toDDL
          s.sql(s"CREATE TABLE $name ($schema) USING parquet " +
            s"LOCATION '${Tables.path(dir, t)}'")
          s.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR ALL COLUMNS")
        }
      }
    }

  /** Table name keyed by the source file's identity+size+mtime
    * (Tables.sourceFingerprint), so a regenerated testdata tree can never
    * be served from a stale bucketed copy (the name changes, the old
    * table is simply never referenced). */
  private def bucketedName(dir: String, table: String): String =
    s"graft_bkt_${Tables.sourceFingerprint(Tables.path(dir, table))}_$table"

  /** Persist orders/lineitem bucketed by join key (once per MACHINE+sf):
    * external tables over artifacts published through
    * [[graft.Staging.publish]], `bucketBy(8, key)` +
    * `sortBy(key)` so bucket files are also key-sorted. A later JVM whose
    * in-memory catalog lost the table but whose files survived re-attaches
    * them with CREATE TABLE … CLUSTERED BY … LOCATION — re-declaring the
    * bucket layout over the existing files instead of rewriting them
    * (this is exactly how a production warehouse amortizes the bucketing
    * shuffle across pipeline runs). */
  def ensureBucketed(s: SparkSession, dir: String): Unit = synchronized {
    for ((t, key) <- Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey")) {
      val name = bucketedName(dir, t)
      if (!s.catalog.tableExists(name)) {
        // saveAsTable is the only API that emits bucket metadata: write
        // the files via a throwaway EXTERNAL table at the publish temp
        // path, drop the catalog entry (files survive — external), then
        // attach the real name to the published dir.
        val loc = Staging.publish(Staging.BucketedRoot,
            Staging.Key(Tables.path(dir, t), s"bkt_$t")) { tmp =>
          val tmpName = name + "_w" // scratch name; session-local catalog
          Tables.table(s, dir, t).write
            .bucketBy(Buckets, key).sortBy(key)
            .option("path", tmp.toString).mode("overwrite").format("parquet")
            .saveAsTable(tmpName)
          s.sql(s"DROP TABLE $tmpName")
        }
        val schema = Tables.table(s, dir, t).schema.toDDL
        s.sql(s"CREATE TABLE $name ($schema) USING parquet " +
          s"CLUSTERED BY ($key) SORTED BY ($key) INTO $Buckets BUCKETS " +
          s"LOCATION '${loc.toString}'")
      }
    }
  }

  /** The two as-of oracle subqueries, shared by join_asof and
    * join_asof_tolerance (mirrors the Spark side's asofBackfill). */
  private val AsofP =
    "(SELECT event_id, user_id, date_trunc('second', ts) AS tss " +
    "FROM events WHERE event_type = 'purchase') p"
  private val AsofS =
    "(SELECT user_id, date_trunc('second', ts) AS tss " +
    "FROM events WHERE event_type = 'signup') s"

  val oracles: Map[String, String] = Map(
    "join_null_anti" -> NullAntiSql,
    "join_lateral" -> LateralSql,
    // Plan-only key result-wise (the skew split changes the EXCHANGE,
    // never the rows): every k ∈ [0, 1000) hits the range dim exactly
    // once, so the join is a per-row enrichment and the replay needs no
    // join at all — w = 2k folds into the sum.
    "join_skew_aqe" ->
      ("SELECT count(*) AS n, round(sum(value), 2) AS sv, " +
        "CAST(sum(2 * k * k) AS BIGINT) AS kw FROM " +
        "(SELECT CASE WHEN event_id % 10 < 9 THEN 0 " +
        "ELSE event_id % 1000 END AS k, value FROM events)"),
    // Plan-only keys result-wise: the Spark side changes HOW the plan is
    // chosen (stats/CBO, runtime bloom), never WHAT is computed — both
    // oracles are the plain relational replay.
    "stats_cbo_broadcast" ->
      ("SELECT o_orderpriority, " +
       "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
       "count(*) AS n " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "JOIN customer ON o_custkey = c_custkey " +
       "WHERE c_mktsegment = 'BUILDING' " +
       "GROUP BY 1 ORDER BY 1"),
    "join_runtime_bloom" ->
      ("SELECT l_returnflag, count(*) AS n, " +
       "round(sum(l_extendedprice), 2) AS sum_price " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F' " +
       "GROUP BY 1 ORDER BY 1"),
    "join_null_safe" ->
      // IS NOT DISTINCT FROM is SQL's spelling of Spark's <=>; the NULL
      // group (nation 3 on both sides) must match itself.
      ("WITH sup AS (SELECT nullif(s_nationkey, 3) AS snk, " +
       "count(*) AS n_sup FROM supplier GROUP BY 1) " +
       "SELECT c_custkey, COALESCE(n_sup, 0) AS n_sup " +
       "FROM customer LEFT JOIN sup " +
       "ON nullif(c_nationkey, 3) IS NOT DISTINCT FROM snk " +
       "ORDER BY c_custkey"),
    "join_fuzzy_blocked" ->
      // Same deterministic corruption (identical chr/ascii/substr text),
      // candidates as the UNION of the three pigeonhole equi-joins
      // (provably the full hamming≤2 pair set — see the query Scaladoc),
      // DuckDB's native hamming() as the verifier, same best-match rule.
      ("WITH c AS (SELECT c_custkey, c_name, c_nationkey FROM customer), " +
       "d0 AS (SELECT c_custkey AS d_id, c_name AS n0, " +
       "  c_nationkey AS d_nationkey FROM customer), " +
       "d1 AS (SELECT d_id, d_nationkey, " + corruptDuck("n0", "d_id % 9") +
       "  AS n1 FROM d0), " +
       "d AS (SELECT d_id, d_nationkey, CASE WHEN d_id % 3 = 0 THEN " +
       corruptDuck("n1", "(d_id * 5 + 3) % 9") +
       "  ELSE n1 END AS d_name FROM d1), " +
       "cand AS (" + (0 to 2).map { i =>
         s"SELECT d.d_id, d.d_name, c.c_custkey, c.c_name FROM d JOIN c " +
         s"ON d.d_nationkey = c.c_nationkey " +
         s"AND substr(d.d_name, 1, 9) = substr(c.c_name, 1, 9) " +
         s"AND ${segDuck("d.d_name", i)} = ${segDuck("c.c_name", i)}"
       }.mkString(" UNION ") + "), " +
       "v AS (SELECT d_id, c_custkey, " +
       "  CAST(hamming(d_name, c_name) AS BIGINT) AS hamming FROM cand " +
       "  WHERE len(d_name) = 18 AND len(c_name) = 18 " +
       "    AND hamming(d_name, c_name) <= 2) " +
       "SELECT d_id, c_custkey AS match_id, hamming, n_matches FROM (" +
       "  SELECT d_id, c_custkey, hamming, " +
       "  CAST(count(*) OVER (PARTITION BY d_id) AS BIGINT) AS n_matches, " +
       "  row_number() OVER (PARTITION BY d_id " +
       "    ORDER BY hamming, c_custkey) AS rk FROM v) " +
       "WHERE rk = 1 ORDER BY d_id"),
    "join_broadcast" ->
      ("SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
       "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
       "JOIN nation ON s_nationkey = n_nationkey " +
       "JOIN region ON n_regionkey = r_regionkey " +
       "WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name"),
    "join_bucketed" ->
      ("SELECT o_orderstatus, count(*) AS cnt, " +
       "round(sum(l_quantity), 2) AS sum_qty " +
       "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
       "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "join_skew_salted" ->
      ("SELECT c_mktsegment, count(*) AS n_events, " +
       "round(sum(value), 2) AS sum_value " +
       "FROM events JOIN customer ON user_id = c_custkey " +
       "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "join_shuffle_hash" ->
      ("SELECT o_orderpriority, count(*) AS cnt, " +
       "round(sum(l_extendedprice), 2) AS sum_price " +
       "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
       "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "join_sort_merge" ->
      ("SELECT o_orderstatus, count(*) AS cnt, " +
       "round(avg(l_extendedprice), 2) AS avg_price " +
       "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
       "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "join_left_outer" ->
      ("SELECT c_custkey, count(o_orderkey) AS n_orders FROM customer " +
       "LEFT JOIN orders ON c_custkey = o_custkey " +
       "GROUP BY c_custkey ORDER BY c_custkey"),
    "join_right_outer" ->
      ("SELECT c_custkey, round(sum(coalesce(o_totalprice, 0)), 2) AS spend " +
       "FROM orders RIGHT JOIN customer ON o_custkey = c_custkey " +
       "GROUP BY c_custkey ORDER BY c_custkey"),
    "join_full_outer" ->
      ("SELECT coalesce(f.f_ck, o.o_ck) AS ck, " +
       "f.f_ck IS NOT NULL AS in_f, o.o_ck IS NOT NULL AS in_o " +
       "FROM (SELECT DISTINCT o_custkey AS f_ck FROM orders WHERE o_orderstatus = 'F') f " +
       "FULL JOIN (SELECT DISTINCT o_custkey AS o_ck FROM orders WHERE o_orderstatus = 'O') o " +
       "ON f.f_ck = o.o_ck ORDER BY ck"),
    "join_left_semi" ->
      ("SELECT c_custkey, c_name FROM customer WHERE EXISTS " +
       "(SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
       "AND o_orderpriority = '1-URGENT') ORDER BY c_custkey"),
    "join_left_anti" ->
      ("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS " +
       "(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey"),
    "join_cross" ->
      ("SELECT r_name, n_name FROM region CROSS JOIN nation " +
       "ORDER BY r_name, n_name"),
    "join_theta_range" ->
      ("SELECT p_size, count(*) AS cnt, round(avg(l_quantity), 2) AS avg_qty " +
       "FROM part JOIN lineitem ON l_quantity BETWEEN p_size - 2 AND p_size + 2 " +
       "WHERE p_size <= 6 AND l_quantity < 10 " +
       "AND l_shipdate >= TIMESTAMP '2001-06-01' " +
       "GROUP BY p_size ORDER BY p_size"),
    // The bucket decomposition is internal plumbing; the declared result
    // is the plain band join, so the oracle is join_theta_range's.
    "join_band_bucketed" ->
      ("SELECT p_size, count(*) AS cnt, round(avg(l_quantity), 2) AS avg_qty " +
       "FROM part JOIN lineitem ON l_quantity BETWEEN p_size - 2 AND p_size + 2 " +
       "WHERE p_size <= 6 AND l_quantity < 10 " +
       "AND l_shipdate >= TIMESTAMP '2001-06-01' " +
       "GROUP BY p_size ORDER BY p_size"),
    "join_interval" ->
      ("SELECT p.event_id AS p_id, s.event_id AS s_id " +
       "FROM (SELECT event_id, user_id, date_trunc('second', ts) AS tss " +
       "FROM events WHERE event_type = 'purchase') p " +
       "JOIN (SELECT event_id, user_id, date_trunc('second', ts) AS tss " +
       "FROM events WHERE event_type = 'signup') s " +
       "ON p.user_id = s.user_id AND p.tss >= s.tss " +
       "AND p.tss <= s.tss + INTERVAL 1 HOUR ORDER BY p_id, s_id"),
    "join_asof" ->
      ("SELECT p.event_id AS p_id, p.user_id AS user_id, s.tss AS prev_signup " +
       s"FROM $AsofP ASOF JOIN $AsofS " +
       "ON p.user_id = s.user_id AND p.tss >= s.tss ORDER BY p_id"),
    "join_asof_tolerance" ->
      // ASOF LEFT JOIN keeps every purchase; the tolerance is the same
      // NULL-gate over exact integer-second gaps on both engines
      ("SELECT p.event_id AS p_id, p.user_id AS user_id, " +
       "CASE WHEN CAST(epoch(p.tss) AS BIGINT) - " +
       "CAST(epoch(s.tss) AS BIGINT) <= 3600 THEN s.tss END " +
       "AS matched_signup, " +
       "CASE WHEN CAST(epoch(p.tss) AS BIGINT) - " +
       "CAST(epoch(s.tss) AS BIGINT) <= 3600 THEN " +
       "CAST(epoch(p.tss) AS BIGINT) - CAST(epoch(s.tss) AS BIGINT) END " +
       "AS gap_s " +
       s"FROM $AsofP ASOF LEFT JOIN $AsofS " +
       "ON p.user_id = s.user_id AND p.tss >= s.tss ORDER BY p_id"),
    "join_asof_nearest" ->
      // DuckDB ASOF is single-direction; nearest replays the same
      // mirrored-frame window pair the Spark side runs. 'signup' >
      // 'purchase' lexicographically, so event_type DESC puts a
      // same-second signup into the PRECEDING frame in both engines.
      ("WITH e AS (SELECT event_id, user_id, " +
       "date_trunc('second', ts) AS tss, event_type, " +
       "CASE WHEN event_type = 'signup' " +
       "THEN date_trunc('second', ts) END AS sig_ts " +
       "FROM events WHERE event_type IN ('purchase', 'signup')), " +
       "w AS (SELECT event_id, user_id, tss, event_type, " +
       "last_value(sig_ts IGNORE NULLS) OVER (PARTITION BY user_id " +
       "ORDER BY tss, event_type DESC, event_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_s, " +
       "first_value(sig_ts IGNORE NULLS) OVER (PARTITION BY user_id " +
       "ORDER BY tss, event_type DESC, event_id " +
       "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_s " +
       "FROM e), " +
       "g AS (SELECT event_id, user_id, prev_s, next_s, " +
       "CAST(epoch(tss) AS BIGINT) - CAST(epoch(prev_s) AS BIGINT) AS gp, " +
       "CAST(epoch(next_s) AS BIGINT) - CAST(epoch(tss) AS BIGINT) AS gn, " +
       "(next_s IS NULL OR (prev_s IS NOT NULL AND " +
       "CAST(epoch(tss) AS BIGINT) - CAST(epoch(prev_s) AS BIGINT) <= " +
       "CAST(epoch(next_s) AS BIGINT) - CAST(epoch(tss) AS BIGINT))) " +
       "AS take_prev FROM w WHERE event_type = 'purchase' " +
       "AND (prev_s IS NOT NULL OR next_s IS NOT NULL)) " +
       "SELECT event_id AS p_id, user_id, " +
       "CASE WHEN take_prev THEN prev_s ELSE next_s END AS nearest_signup, " +
       "CASE WHEN take_prev THEN 'prev' ELSE 'next' END AS dir, " +
       "CASE WHEN take_prev THEN gp ELSE gn END AS gap_s " +
       "FROM g ORDER BY p_id")
  )
}
