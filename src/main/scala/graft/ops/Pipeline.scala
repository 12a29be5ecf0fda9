package graft.ops

import graft.Tables
import graft.QueryDefs.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-pipeline corpus-management operators (SURVEY.md §2.10b round-3
  * additions): deterministic stratified sampling, token-budget sequence
  * packing, denylist scrubbing, and near-dup cluster resolution.
  *
  * Scale shapes:
  *  - `sample_stratified`: pure map-side filter — the keep/drop decision is
  *    a deterministic integer hash of the row key against a per-stratum
  *    rate, so the sample is reproducible across runs, engines, and
  *    repartitions, needs no shuffle, no RNG state, and composes with
  *    pushdown (the filter reaches the scan). This is how a 100 TB corpus
  *    is subsampled for a data mixture: same inputs → same sample.
  *  - `pack_sequences`: contiguous token-budget packing — docs in a fixed
  *    deterministic order per stratum, exclusive running token count,
  *    shard = cum div budget. One shuffle (partition by stratum) + one
  *    in-partition window.
  *  - `text_scrub_terms`: denylist redaction (word-boundary regex) counted
  *    and applied map-side in one pass — corpus-linear, no shuffle before
  *    the tiny per-source aggregate.
  *  - `dedup_cluster`: connected components over the exact near-dup pair
  *    graph (PPJoin trigram-Jaccard ≥ 0.8 edges) by iterative min-label
  *    propagation — each doc ends up labeled with the smallest doc_id in
  *    its component (the canonical "keep one per cluster" key). Pointer
  *    jumping makes the loop O(log component diameter) rounds, each cut
  *    by a checkpoint (see `connectedComponents`); near-dup graphs are
  *    overwhelmingly tiny cliques (diameter ≤ 2-3), so it converges in a
  *    few rounds.
  */
object Pipeline {

  /** Deterministic per-doc draw in [0, 100): Lehmer/MINSTD step
    * (id·48271 mod 2³¹−1) then mod 100. The PRIME modulus is load-bearing:
    * a plain affine-mod-100 draw collapses to a period-20 residue-class
    * selector (multiplier mod 100 = 45 keeps only multiples of 5), which
    * correlates with anything keyed on doc_id residues — the Lehmer step
    * is a full-period permutation of [1, 2³¹−1), so low-modulus structure
    * is destroyed. Plain 64-bit integer arithmetic (no overflow below
    * doc_id ≈ 1.9e14) so DuckDB computes the identical value — a portable
    * sampling key, unlike engine-specific hash builtins. */
  private val draw = ((col("doc_id") * 48271L) % 2147483647L) % 100

  /** Per-language sampling rates (percent kept) — the "data mixture" knob:
    * downsample the dominant language, keep the rare ones. */
  private val rate =
    when(col("lang") === "en", 25)
      .when(col("lang") === "de", 50)
      .when(col("lang") === "es", 75)
      .when(col("lang") === "fr", 90)
      .otherwise(100)

  /** 512 tokens: a realistic max-sequence-length that also yields multiple
    * shards per source at the sf0.01 correctness gate (a 2048 budget left
    * every source in one shard there — an unexercised div). */
  private val SeqBudget = 512
  // sample_budget_topk's per-language token budget — small enough that the
  // admission cutoff binds in EVERY language at the sf0.01 gate corpus
  // (en keeps 62/218 docs, the others ~40/70), so the oracle exercises
  // the selection, not a pass-through.
  private val SelectBudget = 1500L

  /** Assign each doc its global token-budget shard id: shard = (exclusive
    * prefix sum of `toks` per `source` in `doc_id` order) div `budget`.
    * Input must have columns (source, doc_id, toks); output adds `shard`.
    *
    * One window partitioned by `source`: a single exchange, and a window
    * partition holds a whole stratum. A two-level (source, doc_id-bucket)
    * prefix sum bounds window partitions but measured slower at every
    * size tried, 0.5M/5M/50M docs (0.59/1.69/72.7 s against
    * 0.08/0.18/24.5 s, ROUND12_NOTES §B).
    */
  private def packShards(docs: DataFrame, budget: Int): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // Integral `div` (not float `/`): cumulative token sums at 100 TB
    // can exceed 2^53, where double division truncates wrongly; the
    // DuckDB oracle uses integral `//`.
    docs.withColumn("off", coalesce(sum("toks").over(w), lit(0L)))
      .withColumn("shard", expr(s"off div $budget"))
      .drop("off")
  }

  /** The declared packing rollup: per-(source, shard) doc/token counts.
    * private[ops] since r17: the BPE composition key
    * (Bpe.pack_sequences_bpe) shares the exact shard arithmetic so the
    * two packings can never drift. */
  private[ops] def packRollup(docs: DataFrame): DataFrame =
    packShards(docs, SeqBudget)
      .groupBy("source", "shard")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("sum_toks"))
      .orderBy("source", "shard")

  /** Denylist scrubbing pattern: word-boundary alternation. Java regex and
    * DuckDB's RE2 agree on \b and simple alternation — parity-tested. */
  private val ScrubPat = "\\b(key|hash|secret)\\b"

  val queries: Map[String, Q] = Map(

    // Reproducible stratified sampling: keep doc iff draw(doc_id) < rate(lang).
    "sample_stratified" -> ((s, dir) =>
      Tables.table(s, dir, "documents")
        .where(draw < rate)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")),

    // CONTENT-hash Bernoulli sampling — sample_stratified keys its draw
    // on doc_id, which breaks the moment ids are reassigned (every
    // re-crawl/re-shard does); keying on md5(text) makes membership a
    // pure function of the BYTES, so the same document lands in the same
    // split across corpus versions, engines, and partitionings — the
    // train/eval-holdout contract a 100 TB pipeline actually needs.
    // First 2 hex chars < '14' keeps 20/256 ≈ 7.8%; the comparison is
    // lexicographic over [0-9a-f] (= numeric). Pure map-side filter —
    // no RNG state, no shuffle, and the md5 doubles as the dedup
    // fingerprint (fn_hash), so sample membership survives dedup.
    "sample_hash" -> ((s, dir) => {
      val bucket = substring(md5(col("text").cast("binary")), 1, 2)
      Tables.table(s, dir, "documents")
        .where(bucket < lit("14"))
        .select(col("doc_id"), col("lang"), bucket.as("bucket"))
        .orderBy("doc_id")
    }),

    // Deterministic MIXTURE sampling — the data-mixing step of a training
    // run: each source gets its own target keep rate ((k+1)·2048/65536
    // for source 'srcK', 3.1%–65.6%), and membership is still a pure
    // function of the content bytes (md5 4-hex prefix), so the mixture
    // reproduces across corpus versions, engines, and partitionings,
    // and composes with sample_hash's holdout (same draw family,
    // different hex window). The rate derives ARITHMETICALLY from the
    // source name — no mixture dim table, no join, no RNG state: a pure
    // map-side scan+filter at 100 TB (plan-asserted no hash shuffle).
    // The threshold renders as fixed-width lowercase hex, where
    // lexicographic compare = numeric compare; hex() of the same
    // integer prints identically in both engines (verified).
    /** Deterministic weighted reservoir (round 20) — the EXACT-size
      * weighted sample-without-replacement primitive
      * (Efraimidis–Spirakis A-Res) the samplers above don't cover:
      * sample_weighted keeps a per-source RATE (output size drifts with
      * the corpus), this keeps EXACTLY k = 100 docs with inclusion
      * probability ∝ n_chars. The ES key u^(1/w) is rank-equivalent to
      * ln(u)/w, which is what both engines compute — ln is the proven
      * cross-engine libm pair, pow is not. u derives from the doc's
      * content hash ((md5 32-bit prefix + 1) / 2^32+1 ∈ (0,1) — one
      * exact division), so the "randomness" is reproducible and the
      * whole selection replays in SQL. Scale shape: key is map-side;
      * the global top-k plans as TakeOrderedAndProject (per-partition
      * partial top-k, k-row driver merge — no full sort, no shuffle of
      * non-survivors). */
    "sample_reservoir" -> ((s, dir) => {
      val u = (conv(substring(md5(col("text").cast("binary")), 1, 8),
        16, 10).cast("double") + 1.0) / 4294967297.0
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          (log(u) / col("n_chars")).as("k"))
        .orderBy(col("k").desc, col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(col("k"), 6).as("res_key"))
        .orderBy("doc_id")
    }),

    "sample_weighted" -> ((s, dir) => {
      // k defaults to 0 for sources with NO trailing digits (regexp
      // gives '' → try_cast null — a plain cast THROWS under ANSI mode):
      // a nameless-index source gets the base 3.1% rate instead of
      // killing the query (and the oracle side TRY_CASTs identically
      // instead of crashing DuckDB).
      val k = coalesce(
        expr("try_cast(regexp_extract(source, '([0-9]+)$', 1) as int)"),
        lit(0))
      val num = (k + lit(1)) * lit(2048)
      val thr = lower(lpad(hex(num), 4, "0"))
      val h = substring(md5(col("text").cast("binary")), 1, 4)
      Tables.table(s, dir, "documents")
        // num ≥ 65536 means rate 100% — keep unconditionally. Without
        // the guard, hex(65536)='10000' lpad-TRUNCATES to '1000' and the
        // k=31 source would silently collapse to a ~6% rate (both
        // engines truncate the same way, so the oracle would agree with
        // the wrong answer — the formula doc, not the hash, is the
        // contract).
        .where(num >= 65536 || h < thr)
        .select(col("doc_id"), col("source"), h.as("bucket"))
        .orderBy("doc_id")
    }),

    // Fractional-EPOCH mixture — the up-sampling half of data mixing
    // (sample_weighted is the down-sampling half): each source gets a
    // repetition weight in hundredths (50, 125, 200, 275 by source index
    // mod 4), every doc is emitted floor(w) times, and the fractional
    // remainder is a deterministic per-doc content-hash draw against the
    // same 4-hex md5 window family the other samplers use — so "2.75
    // epochs of src3" reproduces exactly across engines, corpus versions,
    // and partitionings. Map-side arithmetic + one generator explode —
    // no shuffle, no RNG state, no join; output volume = Σ wᵢ·|srcᵢ|,
    // exactly the mixture's token multiple, which is the number a 100 TB
    // training-mix planner budgets against.
    // Temperature-smoothed LANGUAGE mixture (round 17) — the multilingual
    // rebalancing rule (τ = 1/2): raw per-lang shares make the head
    // language drown the tail, so each language's keep rate is
    // sqrt(c_min/c_l) — the smallest language keeps everything, larger
    // ones downsample by the square root of their size ratio, and the
    // post-sample mixture lands ∝ sqrt(c_l), exactly the τ=0.5 exponent.
    // DETERMINISM ACROSS ENGINES is the design constraint: the rate goes
    // through division and sqrt ONLY — both IEEE-correctly-rounded in
    // both engines (a pow(x, τ) would not be, which is why τ is 1/2 and
    // not 0.7) — then rounds to an integer threshold in 16^6 draw space
    // rendered as FIXED-WIDTH hex. Membership = 6-hex md5 content draw <
    // threshold, both zero-padded to SEVEN chars so the full-keep
    // threshold 16^6 ('1000000') still compares numerically (the
    // sample_weighted lpad-truncation lesson, solved by widening instead
    // of a guard). Scale: lang counts are a bounded aggregate (or table
    // stats); the filter itself is a map-side scan against a broadcast
    // |langs|-row rate relation — no RNG state, membership a pure
    // function of the bytes, so the mixture reproduces across corpus
    // versions, partitionings, and engines, and composes with
    // sample_hash's holdout (different hex window of the same draw).
    "sample_temperature" -> ((s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      // LAZY barrier (r22, the q21 rescan class): counts (|langs| rows)
      // feeds both the min subquery and the rate relation — without it
      // each reference re-ran the documents scan + lang aggregate, so
      // documents was scanned 3× per invocation (sweep-flagged).
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("cl"))
        .localCheckpoint(false)
      val cmin = counts.agg(min(col("cl")).as("cmin"))
      val thr = counts.crossJoin(broadcast(cmin))
        .withColumn("thr", round(sqrt(col("cmin").cast("double") /
          col("cl").cast("double")) * 16777216, 0).cast("long"))
        .select(col("lang"),
          lpad(lower(hex(col("thr"))), 7, "0").as("thr7"))
      val draw7 = concat(lit("0"),
        substring(md5(col("text").cast("binary")), 1, 6))
      docs.join(broadcast(thr), "lang")
        .where(draw7 < col("thr7"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }),

    "sample_epochs_mix" -> ((s, dir) => {
      val k = coalesce(
        expr("try_cast(regexp_extract(source, '([0-9]+)$', 1) as int)"),
        lit(0))
      val w = (k % 4) * lit(75) + lit(50)
      // (w%100)/100 of 65536 is exact for the four weight residues
      // (0, 25, 50, 75 hundredths → 0, 16384, 32768, 49152), so the
      // double division below is integral before the long cast.
      val thr = lower(lpad(hex(((w % 100) * lit(65536) / lit(100))
        .cast("long")), 4, "0"))
      val extra = when(
        substring(md5(col("text").cast("binary")), 1, 4) < thr, 1L)
        .otherwise(0L)
      val copies = ((w / lit(100)).cast("long") + extra).as("copies")
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"), copies)
        .where(col("copies") >= 1)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1L), col("copies"))).as("epoch"))
        .orderBy("doc_id", "epoch")
    }),

    // Deterministic per-epoch global shuffle — the training-reader order:
    // each epoch visits every document once in a different pseudorandom
    // order, and the order is a PURE FUNCTION of (epoch, doc_id), so any
    // worker can recompute its slice and a resumed run continues from an
    // offset with no shuffle-state checkpoint (what a random
    // `repartition` can never give). The sort key is md5 over the
    // epoch-salted id; ORDER BY = range-partition sort, the scale-safe
    // global order (no single-partition window, no driver collect).
    "sample_shuffle_global" -> ((s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          explode(sequence(lit(1L), lit(2L))).as("epoch"))
        .select(col("epoch"), col("doc_id"),
          md5(concat(lit("e"), col("epoch").cast("string"), lit(":"),
            col("doc_id").cast("string"))).as("skey"))
        .orderBy("skey", "epoch", "doc_id")),

    // Budget-capped quality selection — "the best docs per language that
    // fit a token budget": rank by lexical-diversity score (distinct/total
    // token ratio, the cheap repetition-penalizing proxy), admit in rank
    // order while the running token total stays ≤ B. The semantic contract
    // is the SINGLE per-lang prefix cut (the oracle's form); the two-level
    // plan reproduces it exactly via boundary sentinels (r14, ADVICE fix —
    // the old survivors-only prune was NOT lossless: pruned rows' tokens
    // vanished from the final cumulative, so rows after a pruned row could
    // be wrongly admitted). Rule: per (lang, source), keep rows whose
    // EXCLUSIVE within-source prefix fits B (pre_cum − n_toks ≤ B). That
    // set is all true candidates plus exactly one sentinel per exhausted
    // source: the first over-budget row. Proof of equality with the single
    // window: (i) any over row p has final cum ≥ pre_cum > B (rows ahead
    // within source ⊆ rows ahead overall), so p* — the earliest over row
    // across sources — and everything ranked after it is rejected by the
    // oracle too; (ii) any row q ranked before p* has pre_cum(q) ≤ B
    // (otherwise q's source's first over row would precede p*), so before
    // p* no row was dropped and the kept-set cumulative IS the true
    // cumulative. Admission = not-over ∧ no sentinel seen yet ∧
    // cum ≤ B. Scale: the final per-lang window sees ≤ |sources|·(B-worth
    // of rows + 1 sentinel) — bounded no matter the corpus size — instead
    // of the whole stratum on one of a handful of lang partitions.
    "sample_budget_topk" -> ((s, dir) => {
      val toks = Words.raw
      val ord = Seq(col("score").desc, col("doc_id"))
      val pre = Window.partitionBy(col("lang"), col("source"))
        .orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fin = Window.partitionBy(col("lang"))
        .orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.table(s, dir, "documents")
        .select(col("lang"), col("source"), col("doc_id"),
          size(toks).cast("long").as("n_toks"),
          (size(array_distinct(toks)).cast("double") / size(toks))
            .as("score"))
        .withColumn("pre_cum", sum(col("n_toks")).over(pre))
        // keep candidates + the first over-budget sentinel per source
        .where(col("pre_cum") - col("n_toks") <= SelectBudget)
        .withColumn("over", col("pre_cum") > SelectBudget)
        .withColumn("bound_seen",
          max(when(col("over"), 1).otherwise(0)).over(fin))
        .withColumn("cum_toks",
          sum(when(col("over"), 0L).otherwise(col("n_toks"))).over(fin))
        .where(!col("over") && col("bound_seen") === 0 &&
          col("cum_toks") <= SelectBudget)
        .select("lang", "doc_id", "n_toks", "score", "cum_toks")
        .orderBy("lang", "cum_toks")
    }),

    // Contiguous token-budget packing: shard = exclusive-prefix token count
    // div budget, per source, docs in doc_id order. A doc larger than the
    // budget gets its own shard(s) boundary — counts stay exact either way.
    "pack_sequences" -> ((s, dir) =>
      packRollup(
        Tables.table(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            size(Words.raw).cast("long").as("toks")))),

    // The doc-level packing manifest — the artifact a training run
    // actually consumes (doc → shard assignment), sharing packShards with
    // the pack_sequences rollup so the two can never drift.
    "pack_manifest" -> ((s, dir) =>
      packShards(
        Tables.table(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            size(Words.raw).cast("long").as("toks")),
        SeqBudget)
        .select("source", "doc_id", "toks", "shard")
        .orderBy("doc_id")),

    // Bigram-LM quality scoring: per-doc average negative log CONDITIONAL
    // likelihood -ln(c(w1,w2)/c(w1·)) under the corpus's own bigram model
    // — one step up from text_unigram_nll (flags surprising SEQUENCES,
    // not just surprising tokens; c(w1·) = bigram-head count so the
    // conditionals normalize). Same two-phase scale shape: the bigram
    // relation is staged once (three plan references), both count joins
    // shuffle on their key (bigram vocab ≫ broadcast at 100 TB), and the
    // same AQE-skew/salting story as the unigram join applies.
    "text_bigram_nll" -> ((s, dir) => {
      val bi = graft.Staging.materialize(
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), Words.lowered.as("t"))
          .select(col("doc_id"), explode(Words.pairs(col("t"))).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2")),
        Tables.path(dir, "documents"), "bigram_toks_v1")
      val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("bc"))
      val uc = bi.groupBy("w1").agg(count(lit(1)).as("uc"))
      bi.join(bc, Seq("w1", "w2")).join(uc, Seq("w1"))
        .groupBy("doc_id")
        .agg(round(avg(-log(col("bc").cast("double") / col("uc"))), 6)
          .as("avg_nll"))
        .orderBy("doc_id")
    }),

    // Denylist scrub: count matches and apply the redaction in one map
    // pass; per-source rollup proves both the count and the rewrite ran.
    "text_scrub_terms" -> ((s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("source"),
          size(regexp_extract_all(col("text"), lit(ScrubPat), lit(0)))
            .cast("long").as("hits"),
          length(regexp_replace(col("text"), ScrubPat, "[REDACTED]"))
            .cast("long").as("red_len"))
        .groupBy("source")
        .agg(count(when(col("hits") > 0, 1)).as("docs_hit"),
          sum("hits").as("total_hits"),
          sum("red_len").as("sum_red_len"))
        .orderBy("source")),

    // Perplexity-proxy quality scoring: per-doc average negative
    // log-likelihood under the corpus's own unigram model (token counts /
    // total). High avg_nll = statistically surprising text (noise, junk,
    // wrong language) — the classic cheap stand-in for LM-perplexity
    // filtering. Two-phase shape: token counts aggregate map-side first;
    // the per-token join shuffles on token (vocab ≪ corpus, but at 100 TB
    // vocab can exceed broadcast, so the shuffle join is the safe
    // default); one more shuffle for the per-doc average. Weighted by
    // occurrence (not distinct tokens) — true cross-entropy.
    "text_unigram_nll" -> ((s, dir) => unigramNll(s, dir).orderBy("doc_id")),

    // CCNet-style perplexity bucketing: head/middle/tail terciles per
    // language by unigram NLL (head = most fluent third) — the quality
    // stratification step a filtered-corpus mixture consumes. The rank
    // is EXACT but never sorts a whole stratum on one partition: it
    // decomposes into (1) a cumulative count over the per-(lang, value)
    // relation — bounded by distinct ROUNDED nll values regardless of
    // corpus size — plus (2) a row_number within each (lang, value) tie
    // group; rank = value-start + tie-offset reproduces row_number over
    // (lang ORDER BY nll, doc_id) identically (the oracle replays the
    // single-window form — equality at three SFs is the decomposition
    // proof). Tercile tests are integer compares (3·(rank−1) < k·N), no
    // double division.
    "text_ppl_buckets" -> ((s, dir) => {
      // LAZY barrier (q21 rescan class, r21): docs feeds THREE plan
      // references (per-lang count, per-(lang,nll) count, final join) —
      // without it each reference re-ran the whole per-doc NLL aggregate
      // over the corpus. docs is doc-count-sized: (doc_id, lang, nll).
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .join(unigramNll(s, dir), "doc_id")
        .localCheckpoint(false)
      val n = docs.groupBy(col("lang").as("n_lang"))
        .agg(count(lit(1)).as("n_docs"))
      val vc = docs.groupBy("lang", "avg_nll").agg(count(lit(1)).as("vc"))
      val cum = vc.withColumn("start",
          coalesce(sum(col("vc")).over(
            Window.partitionBy(col("lang")).orderBy(col("avg_nll"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("lang").as("v_lang"), col("avg_nll").as("v_nll"),
          col("start"))
      val tieW = Window.partitionBy(col("lang"), col("avg_nll"))
        .orderBy(col("doc_id"))
      docs
        .join(cum, col("lang") === col("v_lang") &&
          col("avg_nll") === col("v_nll"))
        .join(broadcast(n), col("lang") === col("n_lang"))
        .withColumn("rnk", col("start") + row_number().over(tieW))
        .select(col("lang"), col("doc_id"), col("avg_nll"),
          when(lit(3) * (col("rnk") - 1) < col("n_docs"), "head")
            .when(lit(3) * (col("rnk") - 1) < lit(2) * col("n_docs"),
              "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("lang", "doc_id")
    }),

    // Train/test decontamination: flag corpus docs sharing any word
    // 4-gram with the held-out "benchmark" set (stand-in: doc_id % 97 == 0
    // — in production, an actual eval-set table). The benchmark gram set
    // is BROADCAST — eval sets are tiny vs a 100 TB corpus, so the corpus
    // side streams map-side with no shuffle before the per-doc count; if
    // the benchmark ever outgrows broadcast, the same query shuffles on
    // gram. 4-grams chosen over 8 (vacuous on this short-doc corpus) and
    // 3 (flags a third of it): 7 docs at sf0.01 — selective, non-trivial.
    "text_contamination" -> ((s, dir) => {
      val grams = grams4(s, dir)
      val bench = grams.where(col("doc_id") % 97 === 0)
        .select("gram").distinct()
      grams.where(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), "gram")
        .groupBy("doc_id").agg(countDistinct("gram").as("n_shared"))
        .orderBy("doc_id")
    }),

    // Cross-document duplicated-n-gram mass — the RefinedWeb/Gopher-class
    // corpus-level repetition filter (text_repetition measures WITHIN-doc
    // repetition; this measures how much of each doc recurs ELSEWHERE in
    // the corpus): per doc, the fraction of its distinct word 4-grams
    // carried by at least one OTHER document. Grams are distinct per doc,
    // so gram-df ≥ 2 ⇔ "another doc has it" with no self-count
    // correction. Shape: one gram-keyed two-phase count over the SAME
    // staged 4-gram artifact text_contamination reads (built once per
    // corpus version), joined back gram-keyed — work scales with gram
    // instances, never doc pairs, and the df relation is the aggregated
    // (smaller) join side. Output is exact-integer-derived (round-6 ratio
    // of two counts).
    "text_dup_spans" -> ((s, dir) =>
      // The per-doc relation is a pure function of the corpus version —
      // staged like the dedup pair lists (at 100 TB the repetition scores
      // live next to the corpus; filters read them, not the gram join).
      // Order re-applied after the staged read (parquet keeps no order).
      graft.Staging.materialize(s, Tables.path(dir, "documents"),
        "dup_spans4_v1") {
        val grams = grams4(s, dir)
        val df = grams.groupBy("gram").agg(count(lit(1)).as("df"))
        grams.join(df, "gram")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .select(col("doc_id"), col("n_grams"), col("n_dup"),
            round(col("n_dup") / col("n_grams"), 6).as("dup_frac"))
      }.orderBy("doc_id")),

    // Duplicated-span REMOVAL — the doc-rewrite half of the
    // RefinedWeb/CCNet boilerplate treatment (text_dup_spans MEASURES
    // cross-doc repetition; this key deletes it and reassembles the
    // document): a word 4-gram carried by ≥3 distinct docs is
    // boilerplate, every token covered by any boilerplate gram window is
    // dropped, and the survivors rejoin in original token order. Shape:
    // positioned grams explode map-side; df is a two-phase count over
    // distinct (doc, gram); flagged positions come back through ONE
    // gram-keyed join (work scales with gram instances, never doc
    // pairs); the rebuild is a per-row HOF filter/transform — no
    // shuffle. Output carries md5(cleaned) so the full rewritten text is
    // pinned without shipping it.
    "text_scrub_dup_spans" -> ((s, dir) =>
      graft.Staging.materialize(s, Tables.path(dir, "documents"),
        "scrub_spans4_df3_v1") {
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id"), Words.lowered.as("t"))
        val pg = docs
          .select(col("doc_id"),
            explode(Words.window(col("t"), 4)((i, ws) =>
              struct(i.as("i"), concat_ws(" ", ws: _*).as("gram")))).as("pg"))
          .select(col("doc_id"), col("pg.i").as("i"),
            col("pg.gram").as("gram"))
        val boiler = pg.select("doc_id", "gram").distinct()
          .groupBy("gram").agg(count(lit(1)).as("df"))
          .where(col("df") >= 3).select("gram")
        val rp = pg.join(boiler, "gram")
          .select(col("doc_id"),
            explode(sequence(col("i"), col("i") + 3)).as("p"))
          .distinct()
          .groupBy("doc_id")
          .agg(sort_array(collect_list(col("p"))).as("rp"))
        val rpn = coalesce(col("rp"),
          array().cast("array<int>"))
        docs.join(rp, Seq("doc_id"), "left")
          .select(col("doc_id"), size(col("t")).as("n_toks"),
            coalesce(size(col("rp")), lit(0)).as("n_removed"),
            md5(concat_ws(" ",
              transform(
                filter(sequence(lit(1), size(col("t"))),
                  p => !array_contains(rpn, p)),
                p => element_at(col("t"), p)))).as("clean_md5"))
      }.orderBy("doc_id")),

    // The end-to-end corpus-cleaning flagship — what this engine is FOR —
    // composing four independently-verified stages into one declared,
    // oracle-checked query:
    //   1. near-dup removal: drop every cluster member except the
    //      min-doc_id representative (staged pair list → CC labels);
    //   2. quality filter: keep medium+ docs (score ≥ 0.5, the SAME
    //      expression text_quality verifies);
    //   3. stratified sampling: the Lehmer draw against per-lang rates;
    //   4. sequence packing: surviving docs packed into 512-token shards.
    // Output: per (source, shard) doc/token counts — the manifest a
    // training run would consume. Every stage is map-side or
    // single-shuffle except the CC fixpoint, which reads the staged pair
    // artifact (at 100 TB: pair lists + cluster labels live next to the
    // corpus; this query then costs one scan + one window).
    // INCREMENTAL clean→pack (round 17) — the composition real pipelines
    // actually run day to day: pipeline_clean_pack is the backfill;
    // every ingest after it processes ONE BATCH (here the top-10% newest
    // doc_ids — the dedup_incremental boundary convention) against the
    // STAGED corpus. The batch is (1) deduped against the corpus via the
    // shared dedup_incremental derivation (asymmetric PPJoin probing the
    // staged gram index — reusing the declared key's function, so the
    // dedup rule can never drift from the one the driver gates),
    // (2) quality-filtered and mixture-sampled under the SAME rules as
    // the backfill (shared qualityScore/draw/rate), and (3) packed with
    // the SAME shard rule (shared packRollup) — shard ids are
    // batch-relative (an incremental pack appends new shards; it never
    // renumbers history). Work is batch-proportional: the corpus is
    // touched only through the staged gram index the dedup probe reads.
    "pipeline_incremental_clean_pack" -> ((s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      val mx = docs.agg(max("doc_id").as("mx"))
      val batch = docs.crossJoin(broadcast(mx))
        .where(col("doc_id") * 10 >= col("mx") * 9)
      val dupIds = Dedup.queries("dedup_incremental")(s, dir)
        .select("doc_id").distinct()
      packRollup(
        batch.join(dupIds, Seq("doc_id"), "left_anti")
          .where(TextQuality.qualityScore >= 0.5)
          .where(draw < rate)
          .select(col("source"), col("doc_id"),
            size(Words.raw).cast("long").as("toks")))
    }),

    // INCREMENTAL connected components (round 19) — the update step the
    // staged-labels scaladocs promise ("labels live next to the corpus
    // and update incrementally") but no key demonstrated: the 90% ingest
    // boundary (the dedup_incremental/bloom convention) splits the
    // corpus into an OLD half whose CC labels are a staged artifact and
    // a NEW batch. The merge graph = the old labels' STAR (doc → label;
    // connectivity-equivalent to the old pair set, |old docs| edges)
    // ∪ every pair touching a new doc — so the live fixpoint's input is
    // |old labels| + |new pairs|, never the full pair graph, and seeded
    // merges converge in rounds ∝ merge-chain length. CORRECTNESS LAW:
    // incremental ≡ batch — the oracle IS the full-graph reachability
    // recompute (dedup_cluster's), so any divergence fails the hash;
    // PipelineSpec also pins equality against the declared batch key.
    "dedup_cluster_incremental" -> ((s, dir) => {
      val pairs = Dedup.ngramPairs(s, dir).select("doc_a", "doc_b")
      val mxdf = Tables.table(s, dir, "documents")
        .agg(max("doc_id").as("mx"))
      val oldLabels = stagedComponents(s, Tables.path(dir, "documents"),
        "cc_labels08_old90_v1") {
        pairs.crossJoin(broadcast(mxdf))
          .where(col("doc_a") * 10 < col("mx") * 9 &&
                 col("doc_b") * 10 < col("mx") * 9)
          .select("doc_a", "doc_b")
      }
      val star = oldLabels.where(col("doc") =!= col("lbl"))
        .select(col("doc").as("doc_a"), col("lbl").as("doc_b"))
      val newPairs = pairs.crossJoin(broadcast(mxdf))
        .where(col("doc_a") * 10 >= col("mx") * 9 ||
               col("doc_b") * 10 >= col("mx") * 9)
        .select("doc_a", "doc_b")
      connectedComponents(star.union(newPairs))
        .crossJoin(broadcast(mxdf))
        .select(col("doc").as("doc_id"), col("lbl").as("cluster"),
          (col("doc") * 10 >= col("mx") * 9).as("is_new"))
        .orderBy("doc_id")
    }),

    // Dataset CARD (round 19) — the per-source datasheet every released
    // training set ships: volume (docs, exact token count), language
    // spread (distinct langs + modal lang with a deterministic
    // tie-break), near-dup exposure (share of docs that are
    // non-representative members of a CC cluster — read from the SAME
    // staged labels the dedup keys publish), quality (mean of the
    // text_quality score, averaged over exact integer centi-points so
    // the sum is associative), and a p50 length. One doc-level map +
    // one source-keyed aggregate + a 5×|langs| modal rollup — nothing
    // beyond the label join touches a second corpus pass.
    "pipeline_dataset_card" -> ((s, dir) => {
      val dups = ccLabels(s, dir).where(col("doc") =!= col("lbl"))
        .select(col("doc").as("doc_id"), lit(true).as("is_dup"))
      val d = Tables.table(s, dir, "documents")
        .withColumn("n_toks", size(Words.raw).cast("long"))
        .withColumn("q2i",
          round(TextQuality.qualityScore * 100, 0).cast("long"))
        .join(dups, Seq("doc_id"), "left")
      val base = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        countDistinct("lang").as("n_langs"),
        count(col("is_dup")).as("n_dup_members"),
        (sum(col("q2i")).cast("double") / count(lit(1)) / 100.0)
          .as("avg_q_raw"),
        expr("percentile(n_toks, 0.5)").as("p50_toks"))
      // Modal lang reads the RAW table with a 2-column pruned scan —
      // deriving it from `d` would re-run the quality map and the label
      // join a second time (static planning never reuses the shared
      // subtree — the q21 rescan class; r19 review), while a corpus-
      // sized checkpoint of `d` is the wrong trade at 100 TB.
      val topLang = Tables.table(s, dir, "documents")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")
            .orderBy(col("cnt").desc, col("lang"))))
        .where(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      base.join(topLang, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_langs"), col("top_lang"), col("n_dup_members"),
          round(col("n_dup_members").cast("double") /
            col("n_docs").cast("double"), 4).as("dup_pct"),
          round(col("avg_q_raw"), 4).as("avg_q"), col("p50_toks"))
        .orderBy("source")
    }),

    "pipeline_clean_pack" -> ((s, dir) => {
      val dups = ccLabels(s, dir)
        .where(col("doc") =!= col("lbl"))
        .select(col("doc").as("doc_id"))
      packRollup(
        Tables.table(s, dir, "documents")
          .join(dups, Seq("doc_id"), "left_anti")
          .where(TextQuality.qualityScore >= 0.5)
          .where(draw < rate)
          .select(col("source"), col("doc_id"),
            size(Words.raw).cast("long").as("toks")))
    }),

    // Context-window CHUNKING with overlap — the RAG/pretraining prep
    // step pack_sequences does NOT cover (packing concatenates many docs
    // into fixed budgets; chunking splits each doc into overlapping token
    // windows so no context boundary loses information). Window 32
    // tokens, stride 24 (8-token overlap between consecutive chunks);
    // chunk k of a doc covers tokens [k*24, k*24+32), k = 0 ..
    // floor((n-1)/24) — every token lands in ≥1 chunk, short tails stay
    // short (slice truncates). Scale shape: one map-side posexplode —
    // no join, no aggregation, no shuffle except the declared total-order
    // sort; at 100 TB chunking is embarrassingly parallel and the output
    // is written straight back to the lake partitioned like its input.
    "text_chunk" -> ((s, dir) => {
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), Words.raw.as("toks"), size(Words.raw).as("n"))
        .select(col("doc_id"), col("toks"), col("n"),
          posexplode(sequence(lit(0), floor((col("n") - 1) / 24).cast("int"))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
          // k*24 ≤ n-1 by the sequence bound, so the slice is never empty
          // and its length is exactly least(32, n - k*24)
          least(lit(32), col("n") - col("pos") * 24).cast("long").as("n_toks"),
          array_join(slice(col("toks"), col("pos") * 24 + 1, lit(32)), " ")
            .as("chunk"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Near-dup cluster resolution: min-label propagation over the exact
    // trigram-Jaccard pair graph until fixpoint. Output is (doc_id,
    // cluster) for every doc that participates in at least one near-dup
    // pair; cluster = smallest doc_id in the connected component.
    "dedup_cluster" -> ((s, dir) =>
      // Edge set = the staged near-dup pair list (shared with
      // dedup_ngram_jaccard — computed once per corpus version).
      ccLabels(s, dir)
        .select(col("doc").as("doc_id"), col("lbl").as("cluster"))
        .orderBy("doc_id")),

    // Group-aware train/eval split with a leakage guard (round 18) —
    // the CONSTRUCTIVE sibling of text_contamination (which only
    // detects): a day-to-day op of real LLM data work, because a random
    // per-doc split leaks training content into eval through near-
    // duplicates and inflates every downstream metric. Split unit is
    // the SOURCE (deterministic md5 2-hex split, ~80/20 — the
    // sample_hash idiom: membership is a pure function of the group
    // key, reproducible across engines/partitionings/corpus versions),
    // then the near-dup COMPONENTS of the staged trigram-Jaccard graph
    // (the exact ccLabels artifact dedup_cluster publishes) are closed
    // over the split: a component with ANY train-source member moves
    // wholly to train, so eval stays pure — no eval doc has a near-dup
    // anywhere in train, transitively. The declared output emits the
    // per-split report AND the audited straddle count from the pair
    // graph itself — computed, not asserted, so a future rule change
    // that breaks closure fails the gate honestly (the count is 0 by
    // construction today). Scale: the split is a map-side hash; the
    // closure is one |components|-key aggregate joined back; the audit
    // rides the staged pair list through two doc-keyed hash joins —
    // nothing here is quadratic, and the corpus-sized relations shuffle
    // on their natural keys.
    "split_grouped" -> ((s, dir) => {
      // the doc-level split manifest is a pure function of the corpus
      // AND the artifact a training pipeline actually consumes — staged
      // per corpus version, so the closure computes once and both
      // declared consumers (the report and the straddle audit) read the
      // manifest instead of re-deriving it per branch
      val fin = graft.Staging.materialize(
        s, Tables.path(dir, "documents"), "split_grouped_v1") {
        val base = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            (substring(md5(col("source").cast("binary")), 1, 2) >= "cd")
              .as("src_eval"))
        val labels = ccLabels(s, dir)
          .select(col("doc").as("doc_id"), col("lbl").as("cluster"))
        val j = base.join(labels, Seq("doc_id"), "left")
        val comp = j.where(col("cluster").isNotNull)
          .groupBy("cluster")
          .agg(max(when(!col("src_eval"), 1).otherwise(0)).as("any_train"))
        j.join(comp, Seq("cluster"), "left")
          .select(col("doc_id"), col("source"), col("cluster"),
            when(col("src_eval") &&
              (col("cluster").isNull || col("any_train") === 0), "eval")
              .otherwise("train").as("split"))
      }
      val sp = fin.select(col("doc_id"), col("split"))
      val leaks = Dedup.ngramPairs(s, dir).select("doc_a", "doc_b")
        .join(sp.toDF("doc_a", "sa"), "doc_a")
        .join(sp.toDF("doc_b", "sb"), "doc_b")
        .agg(count(when(col("sa") =!= col("sb"), 1)).as("leak_pairs"))
      fin.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          count(col("cluster")).as("n_grouped"))
        .crossJoin(broadcast(leaks))
        .orderBy("split")
    }),

    // Fixed-iteration PageRank over the near-dup graph — the iterative
    // WEIGHTED propagation family (dedup_cluster's min-label CC is the
    // unweighted one): rank flows along duplication edges, so a high
    // rank marks a document whose content is echoed widely — the web-
    // graph-style quality/centrality signal corpus curation weights by.
    // K=5 fixed rounds (a fixpoint test would diverge from any SQL
    // oracle); each round is one shuffle join (edges ⋈ ranks on src) +
    // one (dst) aggregate — the standard distributed PageRank shape, 2K
    // shuffles total, never materializing more than the edge relation.
    // Determinism: contributions fold in sorted-src order via
    // aggregate(array_sort(collect_list)) ≡ the oracle's list_reduce
    // over `list(... ORDER BY s)` (the text_entropy pattern), and every
    // op is +/*/÷ over identical doubles — exact, so the ranks are
    // emitted UNROUNDED. Per-dst state is bounded by in-degree (≤ the
    // near-dup cluster size, the same bound dedup_cluster's CC carries).
    "graph_pagerank" -> ((s, dir) => {
      val edges = nearDupGraph(s, dir)._2
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      // LAZY barrier (the graph_shortest_path pattern, r21): e2 is
      // referenced once per round — 5 plan references — and each
      // re-derived the staged-pair scan + degree aggregate + join.
      // Edge-scale relation; computed once at first action.
      val e2 = edges.join(deg, "src").localCheckpoint(false)
      var r = deg.select(col("src").as("doc"), lit(1.0).as("pr"))
      for (_ <- 1 to 5) {
        r = e2.join(r, col("src") === col("doc"))
          .select(col("dst"),
            struct(col("src").as("s"), (col("pr") / col("deg")).as("c"))
              .as("t"))
          .groupBy("dst")
          .agg(aggregate(array_sort(collect_list(col("t"))), lit(0.0),
            (acc, x) => acc + x("c")).as("contrib"))
          .select(col("dst").as("doc"),
            (lit(0.15) + lit(0.85) * col("contrib")).as("pr"))
      }
      r.select(col("doc").as("doc_id"), col("pr").as("rank"))
        .orderBy("doc_id")
    }),

    // Synchronous label propagation (round 17) — COMMUNITY detection
    // over the near-dup graph, the third graph analytic next to
    // dedup_cluster's connected components and graph_pagerank's
    // centrality: CC says "reachable", LPA says "densely knit" — the
    // distinction that matters when a bridge edge chains two unrelated
    // near-dup families into one CC and a curation pipeline wants them
    // apart. K = 4 synchronous rounds from self-labels; each node takes
    // the MODE of its neighbors' labels, ties to the SMALLEST label (the
    // deterministic tie rule every replayable LPA uses). A round is one
    // equi-join on the node key + a (dst, lab) count + a per-dst argmax
    // folded into max(struct(cnt, −lab)) — a codegen'd two-phase
    // HashAggregate (the join_fuzzy_blocked packed-argmin posture), no
    // window sort; per-node state is one long, per-round shuffles hash
    // on the node key. Fixed K keeps it replayable (the PageRank/Lloyd
    // precedent — LPA-to-convergence is run-order-dependent and could
    // not be oracled).
    "graph_label_prop" -> ((s, dir) => {
      // LAZY barrier (the graph_shortest_path pattern, r21): edges is
      // referenced once per round (4 rounds) plus the label init — each
      // reference re-derived the staged-pair scan + union.
      val edges = nearDupGraph(s, dir)._2.localCheckpoint(false)
      var lab = edges.select(col("src").as("doc")).distinct()
        .select(col("doc"), col("doc").as("lab"))
      for (_ <- 1 to 4) {
        lab = edges.join(lab, col("src") === col("doc"))
          .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("dst"))
          .agg(max(struct(col("cnt"), (-col("lab")).as("nl"))).as("m"))
          .select(col("dst").as("doc"), (-col("m.nl")).as("lab"))
      }
      lab.select(col("doc").as("doc_id"), col("lab").as("community"))
        .orderBy("doc_id")
    }),

    // Link prediction (round 17) — common-neighbor Jaccard over the
    // near-dup graph: pairs that share many neighbors but carry no edge
    // are the near-dups the pairwise threshold MISSED (a transcription
    // chain A~B~C where A–C fell just under 0.8) — exactly what a
    // curation pipeline reviews next. Candidates are the 2-HOP pairs
    // only (a − mid − c, a < c, not already adjacent): never all-pairs,
    // bounded by Σ deg² — the same in-degree bound every graph key here
    // carries. Score = |N(a)∩N(c)| / |N(a)∪N(c)| with the union by
    // inclusion-exclusion over exact degree counts; top-20 by
    // (score DESC, a, c) is a sort-limit.
    "graph_link_predict" -> ((s, dir) => {
      val (pairs, edges) = nearDupGraph(s, dir)
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val cand = edges.as("e1").join(edges.as("e2"),
          col("e1.dst") === col("e2.src") &&
            col("e1.src") < col("e2.dst"))
        .select(col("e1.src").as("a"), col("e2.dst").as("c"))
        .groupBy("a", "c").agg(count(lit(1)).as("cn"))
      val nonAdj = cand.join(
        pairs.select(col("doc_a").as("a"), col("doc_b").as("c")),
        Seq("a", "c"), "left_anti")
      nonAdj
        .join(deg.withColumnsRenamed(Map("src" -> "a", "deg" -> "deg_a")), "a")
        .join(deg.withColumnsRenamed(Map("src" -> "c", "deg" -> "deg_c")), "c")
        .select(col("a"), col("c"), col("cn"),
          round(col("cn").cast("double") /
            (col("deg_a") + col("deg_c") - col("cn")).cast("double"), 6)
            .as("score"))
        .orderBy(col("score").desc, col("a"), col("c"))
        .limit(20)
    }),

    // Multi-source BFS over the same near-dup graph (round 15): distance
    // to the nearest SEED document (doc_id % 10 = 0 among graph nodes) —
    // the "proximity to known-good/known-bad" signal curation pipelines
    // propagate (a doc one near-dup hop from flagged content inherits
    // suspicion; two hops, less so). K=6 rounds of relaxation: dist(v) =
    // min(dist(v), min over in-edges of dist(u)+1) — one equi-join + one
    // min-aggregate per round, both hashing on the node key, per-node
    // state ONE long (the pagerank/CC scale bound; K·2 shuffles total).
    // Deterministic: min over longs, seed set a pure function of doc_id.
    // Unreached nodes carry no row (same absence contract as v1-vacated
    // days in sink_time_travel); the oracle replays the identical K
    // relaxations as chained CTEs.
    "graph_shortest_path" -> ((s, dir) => {
      val edges = nearDupGraph(s, dir)._2
      // Weight-0 SELF-LOOPS carry each node's current distance through a
      // round, so the relaxation is ONE join + ONE aggregate with `dist`
      // referenced ONCE: the naive `dist ∪ (edges ⋈ dist)` form
      // references dist twice per round, and six rounds of that double
      // the unshared plan subtree each time (2⁶ copies of round 0 —
      // measured 2.3 s vs 0.9 s for this form at sf0.1).
      // LAZY barrier (the join_fuzzy_blocked pattern): edgesW is
      // referenced once per round — 6 plan references — and each would
      // re-derive the edge list + the self-loop distinct from the staged
      // pair scan. The barrier computes it once at first action;
      // plan-only consumers never execute it. Dim-scale relation (the
      // near-dup edge list), so the lineage-loss trade is the standard
      // one.
      val edgesW = edges.withColumn("w", lit(1L)).unionByName(
        edges.select(col("src").as("doc")).distinct()
          .select(col("doc").as("src"), col("doc").as("dst"),
            lit(0L).as("w")))
        .localCheckpoint(false)
      var dist = edgesW.select(col("src").as("doc")).distinct()
        .where(col("doc") % 10 === 0)
        .select(col("doc"), lit(0L).as("dist"))
      for (_ <- 1 to 6) {
        dist = edgesW.join(dist, col("src") === col("doc"))
          .groupBy(col("dst"))
          .agg(min(col("dist") + col("w")).as("dist"))
          .select(col("dst").as("doc"), col("dist"))
      }
      dist.select(col("doc").as("doc_id"), col("dist")).orderBy("doc_id")
    })
  )

  /** The near-dup pair graph of the four `graph_*` keys: the staged
    * trigram-Jaccard pairs `(doc_a, doc_b)` and the symmetric edge
    * relation `(src, dst)` built from them (each pair in both
    * directions). */
  private def nearDupGraph(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val pairs = Dedup.ngramPairs(s, dir).select("doc_a", "doc_b")
    (pairs, pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
  }

  /** Per-doc average unigram negative log-likelihood (doc_id, avg_nll) —
    * shared by `text_unigram_nll` (direct) and `text_ppl_buckets` (rank
    * input), so score and bucketing can never drift. The exploded-token
    * relation feeds THREE plan references (counts, total, join input) —
    * staged once per corpus version, same multi-reference rule as the
    * dedup signatures.
    */
  private def unigramNll(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.Staging.materialize(
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          explode(Words.lowered).as("tok")),
      Tables.path(dir, "documents"), "unigram_toks_v1")
    // LAZY localCheckpoint barrier: cnt feeds the token join AND the
    // corpus total below; the two references re-aggregated the staged
    // token relation twice under static planning (q21 rescan class, r21).
    // cnt is vocab-sized — cheap to hold.
    val cnt = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    // exact-integer identity: Σ per-token counts ≡ corpus token count —
    // summing the vocab-sized cnt relation replaces a second full pass
    // over the corpus-sized staged toks (r21, guide §2.4)
    val total = cnt.agg(sum("cnt").as("total"))
    // The token join is Zipf-hot at scale ("the" → one reducer). The
    // defense is AQE skew-split: it is armed session-wide and this is the
    // sort-merge shape it can split (PlanAuditSpec asserts both).
    toks.join(cnt, "tok").crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(round(avg(-log(col("cnt").cast("double") / col("total"))), 6)
        .as("avg_nll"))
  }

  /** The staged (doc_id, distinct word-4-gram) relation — one artifact
    * per corpus version, shared by `text_contamination` (benchmark
    * overlap) and `text_dup_spans` (cross-doc duplication mass). The
    * explode feeds multiple join sides across both consumers, so it is
    * materialized once (the same two-reference rule as the dedup
    * signatures): at 100 TB the gram relation is built next to the
    * corpus and every consumer reads the columnar artifact instead of
    * re-exploding the text. */
  private def grams4(s: SparkSession, dir: String): DataFrame = {
    graft.Staging.materialize(
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), Words.lowered.as("t"))
        .select(col("doc_id"),
          explode(array_distinct(Words.grams(col("t"), 4))).as("gram")),
      Tables.path(dir, "documents"), "contam_grams4_v1")
  }

  /** CC labels over the staged near-dup pair graph, themselves staged per
    * corpus version — the production shape the clean_pack scaladoc
    * describes: at 100 TB the pair lists AND the cluster labels live next
    * to the corpus and update incrementally; queries read them. The
    * compute-or-load overload means the fixpoint loop only runs on a
    * cache miss (`lastCcRounds` is only meaningful after one — ScaleProbe
    * always measures fresh corpora, so always cold). */
  private def ccLabels(s: SparkSession, dir: String): DataFrame =
    stagedComponents(s, Tables.path(dir, "documents"), "cc_labels08_v1") {
      Dedup.ngramPairs(s, dir).select("doc_a", "doc_b")
    }

  /** Keys whose invocation RUNS Spark jobs (the CC fixpoint loop executes
    * joins/counts eagerly) — plan-only tools must skip these, same as
    * `Streams.drainKeys`: the returned DataFrame's plan is just the final
    * checkpoint scan, not the computation. */
  val loopKeys: Set[String] =
    Set("dedup_cluster", "pipeline_clean_pack", "split_grouped",
      "graph_components", "dedup_cluster_incremental",
      "pipeline_dataset_card")

  /** Per-round lineage-cut plumbing of the CC fixpoint. Default:
    * localCheckpoint — executor-local blocks, no configured dir needed,
    * right for local mode and the bench. On a real cluster an executor
    * loss would kill a localCheckpoint'd lineage mid-fixpoint, so
    * `graft.cc.checkpointDir` switches every cut to a RELIABLE checkpoint
    * against that directory (HDFS/object store): each round's state is
    * persisted off-executor and the loop survives worker churn. Same
    * semantics either way — PipelineSpec runs a CC case through the
    * reliable path.
    *
    * Reliable path: each cut goes under its own `$dir/<tag>` subdirectory
    * so round N-1's files can be deleted the moment round N's cut (and
    * the convergence check, the last reader of the old state) has
    * materialized — otherwise a long-lived cluster session accumulates
    * one checkpoint per fixpoint round per call, unboundedly. At any
    * instant at most two rounds of checkpoints exist on disk (the round
    * just written and, transiently, the one being retired), plus the
    * edge set, which is dropped once the loop converges. The FINAL
    * round's checkpoint is the returned DataFrame's storage and is
    * deliberately left for the caller's lifetime.
    * Round tags are namespaced per CALL: a second SEQUENTIAL fixpoint in
    * the same session reusing bare "round-N" tags would delete a prior
    * call's still-live storage mid-loop. (CONCURRENT calls in one session
    * additionally need distinct `graft.cc.checkpointDir` values —
    * setCheckpointDir is SparkContext-global.) The namespace is published
    * via `lastCcNamespace` so a caller that re-homes the labels (ccLabels
    * stages them to parquet) can reclaim the final checkpoint; without
    * that every call on a long-lived session leaks one namespace. */
  private final class CcCuts(sess: SparkSession) {
    private val ckptDir = sess.conf.getOption("graft.cc.checkpointDir")
    private val callNs = s"cc-${java.util.UUID.randomUUID.toString.take(8)}"
    lastCcNamespace.set(ckptDir.map(d => s"$d/$callNs").orNull)
    def cut(df: DataFrame, tag: String): DataFrame =
      if (ckptDir.isDefined) {
        sess.sparkContext.setCheckpointDir(s"${ckptDir.get}/$callNs/$tag")
        df.checkpoint()
      } else df.localCheckpoint(true)
    def rm(tag: String): Unit = ckptDir.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(s"$d/$callNs/$tag")
      p.getFileSystem(sess.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Connected components over an undirected (doc_a, doc_b) pair relation:
    * min-label propagation WITH pointer jumping. Each round a node takes
    * the min over its own label, its neighbors' labels, AND its label's
    * label (path halving), so label distance shrinks geometrically and
    * convergence needs O(log diameter) rounds, not O(diameter). Labels =
    * component-min doc_id.
    *
    * The 30-round cap covers any graph a real corpus can produce
    * (diameter up to ~2^30); if it's ever hit the loop FAILS LOUDLY
    * instead of returning silently wrong labels (plain propagation with a
    * cap would mislabel any near-dup chain longer than the cap — e.g.
    * incrementally edited doc chains). Factored out of `dedup_cluster` so
    * PipelineSpec can run it against generated graphs (including a chain
    * longer than an unjumped cap) and a driver-side union-find reference.
    * The fixpoint is schedule-independent (min is idempotent/commutative/
    * associative), so the result is deterministic regardless of round
    * count or partitioning. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val cuts = new CcCuts(pairs.sparkSession)
    // undirected edge list, both directions, so one join propagates
    // labels along every edge
    val edges = cuts.cut(pairs.union(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))),
      "edges")
      // computed once; the loop re-reads it
    var labels = edges.select(col("doc_a").as("doc")).distinct()
      .withColumn("lbl", col("doc"))
    var changed = 1L
    var iter = 0
    val MaxRounds = 30
    while (changed > 0 && iter < MaxRounds) {
      val viaEdge = edges.join(labels, edges("doc_b") === labels("doc"))
        .select(edges("doc_a").as("doc"), col("lbl"))
      // pointer jump: my label's current label (labels is keyed by doc,
      // and every label IS a doc id, so self-join label→doc)
      val lx = labels.select(col("doc").as("x_doc"), col("lbl").as("x_lbl"))
      val ly = labels.select(col("doc").as("y_doc"), col("lbl").as("y_lbl"))
      val viaLabel = lx.join(ly, lx("x_lbl") === ly("y_doc"))
        .select(col("x_doc").as("doc"), col("y_lbl").as("lbl"))
      // carry each doc's OLD label through the round's aggregate (every
      // doc appears exactly once in the labels branch, so max(old) IS
      // its previous label); the convergence count then rides the
      // checkpoint job itself as an observed metric (CollectMetrics →
      // Observation — exact, delivered by the cut's eager action on
      // both checkpoint paths, OPTIMIZATION_r21.md) instead of paying a
      // second count job per round, and the checkpointed relation
      // narrows to (doc, lbl) because `old` is consumed by the metric
      // BEFORE the cut (r21 wave 6; guide §5 driver-roundtrip cut —
      // at corpus scale each round saves one full-relation pass)
      val obs = org.apache.spark.sql.Observation()
      val next = cuts.cut(labels.select(col("doc"), col("lbl"),
          col("lbl").as("old"))
        .union(viaEdge.withColumn("old", lit(null).cast("long")))
        .union(viaLabel.withColumn("old", lit(null).cast("long")))
        .groupBy("doc").agg(min("lbl").as("lbl"), max("old").as("old"))
        .observe(obs,
          count(when(col("lbl") =!= col("old"), 1)).as("changed"))
        .select("doc", "lbl"),
        s"round-$iter") // cut per-round lineage growth
      // Bounded metric wait (r22, ADVICE r21): the cut's eager action has
      // already completed here, so delivery is only listener-bus latency —
      // but a plain obs.get would HANG the fixpoint forever if a Spark
      // behavior change stopped CollectMetrics firing on either cut path.
      // Fail loudly instead, like the round cap.
      // NOTE the metric's contract is SIGN-ONLY on the reliable-checkpoint
      // path: eager df.checkpoint() re-executes the plan in the
      // checkpoint-write job after the materializing count, so the
      // accumulator can see both executions and report up to 2× the true
      // changed count — only `changed > 0` may be tested (2×0 = 0).
      changed =
        try {
          import scala.concurrent.duration._
          scala.concurrent.Await.result(
            scala.concurrent.Future(obs.get("changed").asInstanceOf[Long])(
              scala.concurrent.ExecutionContext.global),
            120.seconds)
        } catch {
          case _: java.util.concurrent.TimeoutException =>
            throw new IllegalStateException(
              "connectedComponents: convergence metric not delivered " +
                "within 120 s of the checkpoint action — the cut path no " +
                "longer fires CollectMetrics (see OPTIMIZATION_r21.md)")
        }
      // Round N-1's labels were last read by the union inside `next` —
      // retire their checkpoint now that round N is on disk.
      if (iter > 0) cuts.rm(s"round-${iter - 1}")
      labels = next
      iter += 1
    }
    cuts.rm("edges") // the returned labels scan their own checkpoint only
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $MaxRounds rounds — " +
          "pathological component; raise the cap")
    lastCcRounds.set(iter)
    labels
  }

  /** Rounds the most recent `connectedComponents` call in this JVM took —
    * probe instrumentation: tools/ScaleProbe prints it per leg and, in its
    * default mode, asserts it stays flat as the corpus grows (callers are
    * sequential). */
  val lastCcRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Reliable-checkpoint namespace of this THREAD's most recent call
    * (null when the localCheckpoint default was used) — lets ccLabels
    * reclaim the final round's checkpoint once the labels are re-homed in
    * a staged artifact. Thread-local, not a process global: Spark
    * sessions are commonly shared across threads, and a shared slot would
    * let one thread's set(null)/reclaim interleave with another's
    * fixpoint and delete a still-live final-round checkpoint. (Concurrent
    * callers still need distinct `graft.cc.checkpointDir` values — see
    * connectedComponents — but the handoff itself is now race-free.) */
  val lastCcNamespace = new ThreadLocal[String]

  /** Stage CC labels for an edge relation — the ONE home of the
    * namespace-reclaim dance (ccLabels, graph_components' kNN labels,
    * dedup_cluster_incremental's old-corpus labels all route here; r19
    * review removed ccLabels' verbatim copy).
    *
    * When the returned frame READS the staged artifact, the fixpoint's
    * final reliable checkpoint (if one was taken) no longer backs
    * anything and can be reclaimed; without this, every call on a
    * long-lived session leaks one cc-* namespace in the checkpoint dir.
    * The `staged` status — not the artifact's mere existence on disk —
    * is the gate: with staging disabled or on any degraded materialize
    * exit the returned frame is still checkpoint-backed (even while a
    * stale or foreign-JVM artifact sits in the tmpdir), and deleting
    * the namespace would be a use-after-free. */
  private[graft] def stagedComponents(
      s: SparkSession, sourcePath: String, name: String)(
      pairs: => DataFrame): DataFrame = {
    lastCcNamespace.set(null)
    val (labels, staged) = graft.Staging.materializeWithStatus(
      s, sourcePath, name)(connectedComponents(pairs))
    val ns = lastCcNamespace.get()
    lastCcNamespace.set(null)
    if (ns != null && staged) {
      val p = new org.apache.hadoop.fs.Path(ns)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
    labels
  }

  /** `toks(doc_id, t)`: each document's lower-cased words. */
  private val LowerToksCte =
    s"toks AS (SELECT doc_id, ${Words.LoweredSql} AS t FROM documents)"

  /** The tokenize → distinct-trigram → sizes → inverted-index prefix
    * alone (no pair predicate) — shared by [[NearDupEdgesCte]] and the
    * directional dedup_containment oracle, whose pair relation must NOT
    * carry the symmetric a<b constraint. */
  private[ops] val NearDupGramsCte =
    LowerToksCte + ", " +
    s"grams AS (SELECT doc_id, list_distinct(${Words.gramsSql("t", 3)}) AS g " +
    "FROM toks WHERE len(t) >= 3), " +
    "sizes AS (SELECT doc_id, len(g) AS sz FROM grams), " +
    "inv AS (SELECT doc_id, unnest(g) AS gram FROM grams)"

  /** The trigram-Jaccard near-dup pair graph as a DuckDB CTE prefix
    * (toks → grams → sizes → inv → prc → pairs → symmetric edges) —
    * shared VERBATIM by every oracle that consumes the graph the Spark
    * side derives from Dedup.ngramPairs (dedup_cluster and its
    * incremental twin, pipeline_clean_pack, pipeline_dataset_card,
    * split_grouped and the four graph_* keys). One constant so a
    * threshold or tokenization change can never update some replays and
    * leave another silently describing a different graph (r15 review
    * finding). */
  private val NearDupEdgesCte =
    NearDupGramsCte + ", " +
    "prc AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter " +
    "FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
    "pairs AS (SELECT doc_a, doc_b FROM prc " +
    "JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b " +
    "WHERE inter / (sa.sz + sb.sz - inter) >= 0.8), " +
    "edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs " +
    "UNION ALL SELECT doc_b, doc_a FROM pairs)"

  /** [[NearDupGramsCte]] plus the batch-vs-index pair relation of the
    * incremental keys: `pairs(doc_id, dup_id, inter)` between a newest-10%
    * batch document and an index document sharing a trigram (no a<b
    * constraint: the two sides are disjoint). Shared by the
    * dedup_incremental and pipeline_incremental_clean_pack oracles. */
  private[ops] val IncrementalPairsCte =
    NearDupGramsCte + ", " +
    "mx AS (SELECT max(doc_id) AS mx FROM documents), " +
    "pairs AS (SELECT a.doc_id AS doc_id, b.doc_id AS dup_id, count(*) AS inter " +
    "FROM inv a JOIN inv b ON a.gram = b.gram, mx " +
    "WHERE a.doc_id * 10 >= mx.mx * 9 AND b.doc_id * 10 < mx.mx * 9 " +
    "GROUP BY 1, 2)"

  /** Exact reachability over `edges(s, d)`: `reach(doc, r)` holds every
    * node r reachable from doc, so min(r) per doc is its connected
    * component's min-label, what the Spark min-label propagation
    * converges to (needs `WITH RECURSIVE`). */
  private[ops] val ReachCte =
    "reach(doc, r) AS (SELECT s, s FROM edges " +
    "UNION SELECT reach.doc, e.d FROM reach JOIN edges e ON e.s = reach.r)"

  /** [[ReachCte]] plus `lab(doc, cluster)`: each node's component
    * min-label. */
  private val ReachLabelCte =
    ReachCte + ", lab AS (SELECT doc, CAST(min(r) AS BIGINT) AS cluster " +
    "FROM reach GROUP BY doc)"

  /** The unigram model of the NLL keys: `toks(doc_id, tok)`, per-token
    * counts `cnt` and the corpus total `tot`. */
  private val UnigramCountsCte =
    s"WITH toks AS (SELECT doc_id, unnest(${Words.LoweredSql}) AS tok FROM documents), " +
    "cnt AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok), " +
    "tot AS (SELECT count(*) AS total FROM toks)"

  /** Per-doc average unigram NLL `(doc_id, avg_nll)` over
    * [[UnigramCountsCte]], the SQL twin of `unigramNll`. */
  private val UnigramNllSql =
    "SELECT doc_id, round(avg(-ln(CAST(cnt AS DOUBLE) / total)), 6) AS avg_nll " +
    "FROM toks JOIN cnt USING (tok) CROSS JOIN tot GROUP BY doc_id"

  /** Per-document token counts `t(source, doc_id, toks)`. */
  private val DocToksCte =
    "t AS (SELECT source, doc_id, " +
    s"CAST(len(${Words.RawSql}) AS BIGINT) AS toks FROM documents), "

  /** Each document's shard: its exclusive running token sum within its
    * source over `src(source, doc_id, toks)`, `c(…, cum)`, then
    * shard = cum // 512. */
  private def packCumCte(src: String): String =
    "c AS (SELECT source, doc_id, toks, " +
    "coalesce(sum(toks) OVER (PARTITION BY source ORDER BY doc_id " +
    s"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM $src) "

  /** The packing tail over `src(source, doc_id, toks)`: per (source,
    * shard) document and token counts. Shared by pack_sequences,
    * pack_sequences_bpe and the two clean_pack pipelines. */
  private[ops] def packTailSql(src: String): String =
    packCumCte(src) +
    "SELECT source, CAST(cum // 512 AS BIGINT) AS shard, " +
    "count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS sum_toks " +
    "FROM c GROUP BY 1, 2 ORDER BY 1, 2"

  /** The clean_pack tail after a dedup stage: quality score `q` over the
    * surviving documents `from`, the quality filter and stratified draw
    * (`filt`), then the packing tail. */
  private def cleanPackTail(from: String): String =
    "q AS (SELECT d.doc_id, d.source, d.lang, d.text, " +
    s"round(${TextQuality.QualitySql}, 2) AS q $from), " +
    s"filt AS (SELECT source, doc_id, CAST(len(${Words.RawSql}) AS BIGINT) AS toks FROM q " +
    "WHERE q >= 0.5 AND ((doc_id * 48271) % 2147483647) % 100 < " +
    "(CASE lang WHEN 'en' THEN 25 WHEN 'de' THEN 50 WHEN 'es' THEN 75 WHEN 'fr' THEN 90 ELSE 100 END)), " +
    packTailSql("filt")

  /** Distinct word 4-grams per document, `g(doc_id, gram)`. */
  private val FourGramsCte =
    "WITH " + LowerToksCte + ", " +
    s"g AS (SELECT doc_id, unnest(list_distinct(${Words.gramsSql("t", 4)})) AS gram " +
    "FROM toks WHERE len(t) >= 4), "

  val oracles: Map[String, String] = Map(
    // list_slice is 1-based inclusive-both-ends, so [k*24+1 : k*24+32]
    // is Spark's slice(toks, k*24+1, 32); generate_series is inclusive,
    // matching Spark's sequence.
    "text_chunk" ->
      (s"WITH t AS (SELECT doc_id, ${Words.RawSql} AS toks, " +
        s"len(${Words.RawSql}) AS n FROM documents), " +
        "g AS (SELECT doc_id, toks, n, " +
        "unnest(generate_series(0, CAST(floor((n - 1) / 24) AS BIGINT))) AS k " +
        "FROM t) " +
        "SELECT doc_id, k AS chunk_id, " +
        "CAST(least(32, n - k * 24) AS BIGINT) AS n_toks, " +
        "array_to_string(toks[k * 24 + 1 : k * 24 + 32], ' ') AS chunk " +
        "FROM g ORDER BY doc_id, chunk_id"),
    "sample_stratified" ->
      ("SELECT doc_id, lang, source FROM documents " +
        "WHERE ((doc_id * 48271) % 2147483647) % 100 < " +
        "(CASE lang WHEN 'en' THEN 25 WHEN 'de' THEN 50 WHEN 'es' THEN 75 " +
        "WHEN 'fr' THEN 90 ELSE 100 END) ORDER BY doc_id"),
    "sample_hash" ->
      ("SELECT doc_id, lang, substring(md5(text), 1, 2) AS bucket " +
       "FROM documents WHERE substring(md5(text), 1, 2) < '14' " +
       "ORDER BY doc_id"),
    // identical rate pipeline (÷ then sqrt then round — both engines
    // IEEE-correctly-rounded at every step), identical 7-wide hex render
    "sample_temperature" ->
      ("WITH c AS (SELECT lang, count(*) AS cl FROM documents GROUP BY 1), " +
       "m AS (SELECT min(cl) AS cmin FROM c), " +
       "r AS (SELECT lang, lpad(lower(hex(CAST(round(" +
       "sqrt(CAST(cmin AS DOUBLE) / CAST(cl AS DOUBLE)) * 16777216) " +
       "AS BIGINT))), 7, '0') AS thr7 FROM c, m) " +
       "SELECT d.doc_id, d.lang, d.source FROM documents d " +
       "JOIN r USING (lang) " +
       "WHERE '0' || substring(md5(text), 1, 6) < r.thr7 " +
       "ORDER BY doc_id"),
    "sample_reservoir" ->
      // identical ES key: 32-bit md5 prefix via the proven '0x' hex
      // parse, (v+1)/2^32+1 exact division, ln (the proven libm pair)
      // over exact-int weight — keys bitwise identical, so the top-100
      // cut is the same set in both engines.
      ("WITH d AS (SELECT doc_id, source, n_chars, " +
        "ln((CAST(CAST(concat('0x', substring(md5(text), 1, 8)) " +
        "AS BIGINT) AS DOUBLE) + 1.0) / 4294967297.0) / n_chars AS k " +
        "FROM documents) " +
        "SELECT doc_id, source, n_chars, round(k, 6) AS res_key FROM " +
        "(SELECT * FROM d ORDER BY k DESC, doc_id LIMIT 100) " +
        "ORDER BY doc_id"),
    "sample_weighted" ->
      // mirrors the Spark side exactly: TRY_CAST + COALESCE(0) for
      // digitless sources, and the >=65536 full-keep guard against
      // lpad truncation at k>=31
      ("WITH t AS (SELECT doc_id, source, substring(md5(text), 1, 4) AS bucket, " +
       "(COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) " +
       "AS INTEGER), 0) + 1) * 2048 AS num FROM documents) " +
       "SELECT doc_id, source, bucket FROM t " +
       "WHERE num >= 65536 OR bucket < lower(lpad(hex(num), 4, '0')) " +
       "ORDER BY doc_id"),
    "sample_epochs_mix" ->
      // same TRY_CAST/md5-window family as sample_weighted; the epoch
      // explode is generate_series (empty at copies=0, so the WHERE is
      // belt-and-braces — Spark's sequence() needs it to stay ascending)
      ("WITH t AS (SELECT doc_id, source, substring(md5(text),1,4) AS bucket, " +
       "(COALESCE(TRY_CAST(regexp_extract(source,'([0-9]+)$',1) AS INTEGER),0) " +
       "% 4) * 75 + 50 AS w FROM documents), " +
       "c AS (SELECT doc_id, source, CAST(w // 100 AS BIGINT) + " +
       "(CASE WHEN bucket < lower(lpad(hex((w % 100) * 65536 // 100), 4, '0')) " +
       "THEN 1 ELSE 0 END) AS copies FROM t) " +
       "SELECT doc_id, source, CAST(unnest(generate_series(1, copies)) AS BIGINT) " +
       "AS epoch FROM c WHERE copies >= 1 ORDER BY doc_id, epoch"),
    "sample_shuffle_global" ->
      ("WITH e AS (SELECT doc_id, " +
       "CAST(unnest(generate_series(1, 2)) AS BIGINT) AS epoch " +
       "FROM documents) " +
       "SELECT epoch, doc_id, " +
       "md5('e' || CAST(epoch AS VARCHAR) || ':' || " +
       "CAST(doc_id AS VARCHAR)) AS skey " +
       "FROM e ORDER BY skey, epoch, doc_id"),
    "sample_budget_topk" ->
      // the single-window prefix cut IS the semantic contract; the Spark
      // side's boundary-sentinel two-level plan provably reproduces it
      // (proof at the query site), so the oracle needs no replay of the
      // pruning machinery
      ("WITH t AS (SELECT lang, doc_id, " +
       s"CAST(len(${Words.RawSql}) AS BIGINT) AS n_toks, " +
       s"CAST(len(list_distinct(${Words.RawSql})) AS DOUBLE) / " +
       s"len(${Words.RawSql}) AS score FROM documents), " +
       "c AS (SELECT lang, doc_id, n_toks, score, " +
       "CAST(sum(n_toks) OVER (PARTITION BY lang ORDER BY score DESC, doc_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
       "AS cum_toks FROM t) " +
       "SELECT lang, doc_id, n_toks, score, cum_toks FROM c " +
       "WHERE cum_toks <= 1500 ORDER BY lang, cum_toks"),
    "pack_manifest" ->
      ("WITH " + DocToksCte + packCumCte("t") +
        "SELECT source, doc_id, toks, CAST(cum // 512 AS BIGINT) AS shard " +
        "FROM c ORDER BY doc_id"),
    "text_bigram_nll" ->
      // the shared window's starts; bigram-head counts come from the
      // SAME bigram relation on both sides so the conditionals agree exactly.
      (s"WITH t AS (SELECT doc_id, ${Words.LoweredSql} AS t FROM documents), " +
        "bi AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM t, " +
        s"LATERAL (SELECT unnest(${Words.startsSql("t", 2)}) AS i) WHERE len(t) >= 2), " +
        "bc AS (SELECT w1, w2, count(*) AS bc FROM bi GROUP BY 1, 2), " +
        "uc AS (SELECT w1, count(*) AS uc FROM bi GROUP BY 1) " +
        "SELECT doc_id, round(avg(-ln(CAST(bc AS DOUBLE) / uc)), 6) AS avg_nll " +
        "FROM bi JOIN bc USING (w1, w2) JOIN uc USING (w1) " +
        "GROUP BY doc_id ORDER BY doc_id"),
    "pack_sequences" -> ("WITH " + DocToksCte + packTailSql("t")),
    "text_scrub_terms" ->
      ("WITH m AS (SELECT source, " +
        "CAST(len(regexp_extract_all(text, '\\b(key|hash|secret)\\b')) AS BIGINT) AS hits, " +
        "CAST(length(regexp_replace(text, '\\b(key|hash|secret)\\b', '[REDACTED]', 'g')) AS BIGINT) AS red_len " +
        "FROM documents) " +
        "SELECT source, count(*) FILTER (WHERE hits > 0) AS docs_hit, " +
        "CAST(sum(hits) AS BIGINT) AS total_hits, " +
        "CAST(sum(red_len) AS BIGINT) AS sum_red_len " +
        "FROM m GROUP BY source ORDER BY source"),
    "text_unigram_nll" ->
      (UnigramCountsCte + " " + UnigramNllSql + " ORDER BY doc_id"),
    "text_ppl_buckets" ->
      // single-window row_number form — the Spark side's two-level
      // (value-start + tie-offset) rank must reproduce it identically
      (UnigramCountsCte + ", nll AS (" + UnigramNllSql + "), " +
       "d AS (SELECT lang, nll.doc_id, avg_nll FROM documents " +
       "JOIN nll ON documents.doc_id = nll.doc_id), " +
       "r AS (SELECT lang, doc_id, avg_nll, " +
       "row_number() OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS rnk, " +
       "count(*) OVER (PARTITION BY lang) AS n FROM d) " +
       "SELECT lang, doc_id, avg_nll, " +
       "CASE WHEN 3*(rnk-1) < n THEN 'head' " +
       "WHEN 3*(rnk-1) < 2*n THEN 'middle' ELSE 'tail' END AS bucket " +
       "FROM r ORDER BY lang, doc_id"),
    "text_contamination" ->
      (FourGramsCte +
        "bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0) " +
        "SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_shared " +
        "FROM g JOIN bench USING (gram) WHERE doc_id % 97 <> 0 " +
        "GROUP BY doc_id ORDER BY doc_id"),
    // Same gram CTE as text_contamination (the shared staged artifact);
    // grams are DISTINCT per doc, so df >= 2 ⇔ another document carries
    // the gram. sum(CASE) is HUGEINT in DuckDB → CAST BIGINT (the
    // text_tokens precedent); the ratio is exact-int division both sides.
    "text_dup_spans" ->
      (FourGramsCte +
        "df AS (SELECT gram, count(*) AS df FROM g GROUP BY 1), " +
        "pd AS (SELECT doc_id, count(*) AS n_grams, " +
        "sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup " +
        "FROM g JOIN df USING (gram) GROUP BY 1) " +
        "SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, " +
        "CAST(n_dup AS BIGINT) AS n_dup, " +
        "round(n_dup / CAST(n_grams AS DOUBLE), 6) AS dup_frac " +
        "FROM pd ORDER BY doc_id"),
    // Same mechanics: positioned grams → df over distinct (doc, gram) →
    // flagged windows → covered positions → HOF rebuild; list_contains
    // on a NULL list is NULL → coalesce(false) keeps whole untouched
    // docs, the Spark side's empty-array coalesce.
    "text_scrub_dup_spans" ->
      (s"WITH d0 AS (SELECT doc_id, ${Words.LoweredSql} AS t " +
        "FROM documents), " +
        s"pg AS (SELECT doc_id, i, ${Words.gramAtSql("t", "i", 4)} AS gram " +
        s"FROM d0, unnest(${Words.startsSql("t", 4)}) AS s(i)), " +
        "bl AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM pg) " +
        "GROUP BY gram HAVING count(*) >= 3), " +
        "cov AS (SELECT pg.doc_id, unnest(generate_series(pg.i, pg.i + 3)) " +
        "AS p FROM pg JOIN bl USING (gram)), " +
        "rp AS (SELECT doc_id, list_sort(list(DISTINCT p)) AS rp " +
        "FROM cov GROUP BY doc_id) " +
        "SELECT d0.doc_id, len(t) AS n_toks, " +
        "coalesce(len(rp), 0) AS n_removed, " +
        // array_to_string of an EMPTY list is NULL in DuckDB — coalesce
        // to '' so a fully-scrubbed doc hashes like Spark's concat_ws.
        "md5(coalesce(array_to_string(list_transform(" +
        "list_filter(generate_series(1, len(t)), " +
        "p -> NOT coalesce(list_contains(rp, p), false)), " +
        "p -> t[p]), ' '), '')) AS clean_md5 " +
        "FROM d0 LEFT JOIN rp USING (doc_id) ORDER BY doc_id"),
    // Composes the four verified stage oracles (cluster CTE = dedup_cluster's,
    // quality CASE = text_quality's, draw = sample_stratified's, window =
    // pack_sequences') — any drift in a stage shows up in its own row first.
    // dedup_incremental's pair CTE (batch-vs-index, no recursive CC
    // needed — cross-corpus dups are direct pairs) + clean_pack's
    // q/filt/pack text restricted to the batch side
    "pipeline_incremental_clean_pack" ->
      ("WITH " + IncrementalPairsCte + ", " +
        "dups AS (SELECT DISTINCT p.doc_id FROM pairs p " +
        "JOIN sizes sa ON sa.doc_id = p.doc_id " +
        "JOIN sizes sb ON sb.doc_id = p.dup_id " +
        "WHERE inter / (sa.sz + sb.sz - inter) >= 0.8), " +
        cleanPackTail("FROM documents d, mx WHERE d.doc_id * 10 >= mx.mx * 9 " +
          "AND d.doc_id NOT IN (SELECT doc_id FROM dups)")),
    "pipeline_clean_pack" ->
      (s"WITH RECURSIVE $NearDupEdgesCte, $ReachCte, " +
        "clus AS (SELECT doc, min(r) AS root FROM reach GROUP BY doc), " +
        "dups AS (SELECT doc FROM clus WHERE doc <> root), " +
        cleanPackTail("FROM documents d WHERE d.doc_id NOT IN (SELECT doc FROM dups)")),
    "dedup_cluster" ->
      (s"WITH RECURSIVE $NearDupEdgesCte, $ReachCte " +
        "SELECT doc AS doc_id, CAST(min(r) AS BIGINT) AS cluster " +
        "FROM reach GROUP BY doc ORDER BY doc"),
    // dedup_cluster's reachability CC for the dup share + text_quality's
    // CASE (over exact centi-points) + exact token counts; modal lang =
    // (cnt DESC, lang) row_number, quantile_cont ≡ percentile (the
    // theil_sen exact-(a+b)/2 precedent).
    "pipeline_dataset_card" ->
      (s"WITH RECURSIVE $NearDupEdgesCte, $ReachLabelCte, " +
        "dups AS (SELECT doc AS doc_id FROM lab WHERE doc <> cluster), " +
        "m AS (SELECT d.source, d.lang, " +
        s"CAST(len(${Words.rawSql("d.text")}) AS BIGINT) AS n_toks, " +
        s"CAST(round((${TextQuality.QualitySql}) * 100) AS BIGINT) AS q2i, " +
        "(dup.doc_id IS NOT NULL) AS is_dup " +
        "FROM documents d LEFT JOIN dups dup ON d.doc_id = dup.doc_id), " +
        "base AS (SELECT source, count(*) AS n_docs, " +
        "CAST(sum(n_toks) AS BIGINT) AS n_tokens, " +
        "count(DISTINCT lang) AS n_langs, " +
        "CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_dup_members, " +
        "CAST(sum(q2i) AS DOUBLE) / count(*) / 100.0 AS avg_q_raw, " +
        "quantile_cont(n_toks, 0.5) AS p50_toks FROM m GROUP BY source), " +
        "lc AS (SELECT source, lang, count(*) AS cnt FROM m GROUP BY 1, 2), " +
        "tl AS (SELECT source, lang, row_number() OVER (" +
        "PARTITION BY source ORDER BY cnt DESC, lang) AS rn FROM lc) " +
        "SELECT b.source, b.n_docs, b.n_tokens, b.n_langs, " +
        "tl.lang AS top_lang, b.n_dup_members, " +
        "round(CAST(b.n_dup_members AS DOUBLE) / CAST(b.n_docs AS DOUBLE), 4) " +
        "AS dup_pct, round(avg_q_raw, 4) AS avg_q, b.p50_toks " +
        "FROM base b JOIN tl ON tl.source = b.source AND tl.rn = 1 " +
        "ORDER BY b.source"),

    // The incremental key's oracle IS the batch recompute — the
    // incremental ≡ batch law as a hash gate — plus the boundary flag.
    "dedup_cluster_incremental" ->
      (s"WITH RECURSIVE $NearDupEdgesCte, $ReachLabelCte, " +
        "mx AS (SELECT max(doc_id) AS m FROM documents) " +
        "SELECT doc AS doc_id, cluster, doc * 10 >= mx.m * 9 AS is_new " +
        "FROM lab, mx ORDER BY doc"),
    // shared pair-graph prefix + the dedup_cluster reachability CC; the
    // same source-hash split, component closure (any train member pulls
    // the whole component), and the pair-straddle audit re-counted from
    // the pair list itself
    "split_grouped" ->
      (s"WITH RECURSIVE $NearDupEdgesCte, $ReachCte, " +
        "lab AS (SELECT doc AS doc_id, CAST(min(r) AS BIGINT) AS cluster " +
        "FROM reach GROUP BY doc), " +
        "base AS (SELECT doc_id, source, " +
        "substring(md5(source), 1, 2) >= 'cd' AS src_eval FROM documents), " +
        "j AS (SELECT b.doc_id, b.source, b.src_eval, l.cluster " +
        "FROM base b LEFT JOIN lab l USING (doc_id)), " +
        "comp AS (SELECT cluster, " +
        "max(CASE WHEN NOT src_eval THEN 1 ELSE 0 END) AS any_train " +
        "FROM j WHERE cluster IS NOT NULL GROUP BY 1), " +
        "fin AS (SELECT j.doc_id, j.source, j.cluster, " +
        "CASE WHEN j.src_eval AND (j.cluster IS NULL OR c.any_train = 0) " +
        "THEN 'eval' ELSE 'train' END AS split " +
        "FROM j LEFT JOIN comp c USING (cluster)), " +
        "lk AS (SELECT count(CASE WHEN a.split <> b.split THEN 1 END) " +
        "AS leak_pairs FROM pairs p " +
        "JOIN fin a ON p.doc_a = a.doc_id " +
        "JOIN fin b ON p.doc_b = b.doc_id) " +
        "SELECT split, count(*) AS n_docs, " +
        "count(DISTINCT source) AS n_sources, " +
        "count(cluster) AS n_grouped, lk.leak_pairs " +
        "FROM fin, lk GROUP BY split, lk.leak_pairs ORDER BY split"),
    // Same trigram-Jaccard pair-graph prefix as dedup_cluster; then 5
    // fixed PageRank rounds, each folding contributions in sorted-src
    // order (list_reduce over `list(... ORDER BY s)` ≡ Spark's
    // aggregate(array_sort(collect_list)) — the text_entropy pattern).
    "graph_pagerank" -> {
      val pairCte = NearDupEdgesCte + ", " +
        "deg AS (SELECT s AS doc, count(*) AS deg FROM edges GROUP BY s), " +
        "r0 AS (SELECT doc, CAST(1.0 AS DOUBLE) AS pr FROM deg)"
      val iters = (1 to 5).map { k =>
        s"r$k AS (SELECT e.d AS doc, " +
        "CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * " +
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        "list(r.pr / dg.deg ORDER BY e.s)), (a, b) -> a + b) AS pr " +
        s"FROM edges e JOIN r${k - 1} r ON r.doc = e.s " +
        "JOIN deg dg ON dg.doc = e.s GROUP BY e.d)"
      }.mkString(", ")
      s"WITH $pairCte, $iters " +
        "SELECT doc AS doc_id, pr AS rank FROM r5 ORDER BY doc_id"
    },

    "graph_link_predict" -> {
      // shared pair-graph prefix; 2-hop candidates, NOT EXISTS adjacency
      // exclusion ≡ the Spark left_anti, inclusion-exclusion union
      val pairCte = NearDupEdgesCte + ", " +
        "deg AS (SELECT s, count(*) AS deg FROM edges GROUP BY 1), " +
        "cand AS (SELECT e1.s AS a, e2.d AS c, count(*) AS cn " +
        "FROM edges e1 JOIN edges e2 ON e1.d = e2.s AND e1.s < e2.d " +
        "GROUP BY 1, 2), " +
        "nonadj AS (SELECT cand.* FROM cand WHERE NOT EXISTS (" +
        "SELECT 1 FROM pairs p WHERE p.doc_a = cand.a AND p.doc_b = cand.c))"
      s"WITH $pairCte " +
        "SELECT a, c, cn, round(CAST(cn AS DOUBLE) / " +
        "CAST(da.deg + dc.deg - cn AS DOUBLE), 6) AS score " +
        "FROM nonadj JOIN deg da ON da.s = a JOIN deg dc ON dc.s = c " +
        "ORDER BY score DESC, a, c LIMIT 20"
    },

    "graph_label_prop" -> {
      // shared pair-graph prefix; each round's argmax replayed as a
      // (count DESC, lab ASC) row_number — the same tie rule the Spark
      // side folds into max(struct(cnt, −lab))
      val pairCte = NearDupEdgesCte + ", " +
        "l0 AS (SELECT DISTINCT s AS doc, s AS lab FROM edges)"
      val iters = (1 to 4).map { k =>
        s"l$k AS (SELECT doc, lab FROM (" +
        "SELECT e.d AS doc, r.lab AS lab, " +
        "row_number() OVER (PARTITION BY e.d " +
        "ORDER BY count(*) DESC, r.lab) AS rn " +
        s"FROM edges e JOIN l${k - 1} r ON r.doc = e.s " +
        "GROUP BY e.d, r.lab) WHERE rn = 1)"
      }.mkString(", ")
      s"WITH $pairCte, $iters " +
        "SELECT doc AS doc_id, lab AS community FROM l4 ORDER BY doc_id"
    },

    "graph_shortest_path" -> {
      // shared pair-graph prefix, then the identical 6 relaxation rounds
      // as chained CTEs
      val pairCte = NearDupEdgesCte + ", " +
        "d0 AS (SELECT doc, CAST(0 AS BIGINT) AS dist FROM " +
        "(SELECT DISTINCT s AS doc FROM edges) WHERE doc % 10 = 0)"
      val iters = (1 to 6).map { k =>
        s"d$k AS (SELECT doc, min(dist) AS dist FROM (" +
        s"SELECT doc, dist FROM d${k - 1} " +
        s"UNION ALL SELECT e.d, r.dist + 1 FROM edges e " +
        s"JOIN d${k - 1} r ON r.doc = e.s) GROUP BY doc)"
      }.mkString(", ")
      s"WITH $pairCte, $iters " +
        "SELECT doc AS doc_id, CAST(dist AS BIGINT) AS dist FROM d6 " +
        "ORDER BY doc_id"
    }
  )
}
