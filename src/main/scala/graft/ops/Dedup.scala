package graft.ops

import graft.Tables
import graft.QueryDefs.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection beyond MinHash (SURVEY.md §2.10 / the
  * training-data-pipeline surface): SimHash, exact n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale shapes:
  *  - `dedup_simhash`: the 60-bit fingerprint is computed map-side with
  *    HOF folds; candidate pairs come ONLY from 15-bit band buckets
  *    (pigeonhole: hamming ≤ 3 ⇒ ≥ 1 of 4 bands identical), never an
  *    all-pairs join, so cost tracks the number of genuine collisions.
  *  - `dedup_ngram_jaccard`: inverted-index join on shared trigrams —
  *    pairs are generated per shared gram and hash-aggregated. Every
  *    PPJoin prefix here takes the rarest grams first (the df order), so
  *    a Zipfian corpus's hot grams stay out of the index; the LSH path
  *    (`dedup_minhash`) is the constant-cost alternative.
  *  - `embed_neardup`: incoming-batch-vs-corpus shape — the small probe
  *    batch broadcasts and the corpus streams partition-local, O(B×N)
  *    with no corpus self-join.
  */
object Dedup {

  /** SimHash geometry: 60 fingerprint bits in 4 bands of 15. 60, not 64,
    * since the round-16 md5 re-key (r15 verdict item 5): the portable
    * token hash is the first 15 hex chars of md5 parsed as a 60-bit long
    * — the widest md5 prefix both engines parse into a SIGNED 64-bit
    * integer without overflow (Spark conv(…,16,10) ↔ DuckDB
    * CAST('0x'||… AS BIGINT), value-identical because 60 bits never set
    * the sign bit). The pigeonhole is unchanged: hamming ≤ 3 with 4
    * bands still forces ≥ 1 identical band. */
  private[graft] val SimBits = 60
  private[graft] val SimBands = 4
  private[graft] val SimBandBits = SimBits / SimBands

  /** 60-bit SimHash over pre-hashed tokens: bit i of the fingerprint is
    * the sign of Σ_tokens (±1 by bit i of the token hash). All one
    * map-side codegen'd expression tree; fixed seed ⇒ deterministic.
    */
  def simhash(tokenHashes: Column): Column =
    (0 until SimBits).map { i =>
      val bitSum = aggregate(tokenHashes, lit(0L),
        (acc, h) => acc + (shiftright(h, i).bitwiseAND(lit(1L)) * 2 - 1))
      when(bitSum >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (doc_id, fp) for any (doc_id, text) relation — the pure fingerprint
    * pipeline behind [[simhashed]]. Token hashing happens in its own
    * projection so each token is md5'd ONCE, not once per bit — the
    * 60 bit-sums then fold over the cached hash array. */
  def simhashFp(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        transform(array_distinct(Words.lowered),
          t => conv(substring(md5(t.cast("binary")), 1, 15), 16, 10)
            .cast("long")).as("th"))
      .select(col("doc_id"), simhash(col("th")).as("fp"))

  /** Banded-LSH hamming ≤ 3 pairs from a (doc_id, fp) relation — the pure
    * pair pipeline behind `dedup_simhash`. Candidates come ONLY from
    * 15-bit band buckets (pigeonhole: hamming ≤ 3 ⇒ ≥ 1 of 4 bands
    * identical), never an all-pairs join. */
  def simhashPairsFromFp(fps: DataFrame): DataFrame = {
    val banded = fps.select(col("doc_id"), col("fp"),
      explode(array((0 until SimBands).map { b =>
        struct(lit(b).as("band_id"),
          shiftright(col("fp"), SimBandBits * b)
            .bitwiseAND(lit((1L << SimBandBits) - 1)).as("band_val"))
      }: _*)).as("band"))
      .select(col("doc_id"), col("fp"),
        col("band.band_id").as("band_id"), col("band.band_val").as("band_val"))
    val l = banded.select(col("doc_id").as("doc_a"), col("fp").as("fp_a"),
      col("band_id"), col("band_val"))
    val r = banded.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"),
      col("band_id").as("band_id_r"), col("band_val").as("band_val_r"))
    l.join(r, col("band_id") === col("band_id_r") &&
        col("band_val") === col("band_val_r") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
  }

  /** doc_id + fingerprint for every document (staged per corpus version). */
  def simhashed(s: SparkSession, dir: String): DataFrame =
    // Repartition the scan first — few parquet splits at test SF would
    // otherwise serialize the 64-bit-sum fold onto one core. The result is
    // materialized once per corpus version (Staging): the band self-join
    // references it twice and would evaluate the fold twice.
    graft.Staging.materialize(
      simhashFp(Tables.table(s, dir, "documents").repartition(col("doc_id"))),
      Tables.path(dir, "documents"), "simhash_fp60_md5_v1")

  val queries: Map[String, Q] = Map(

    /** SimHash near-dup pairs (hamming distance ≤ 3) via 4×15-bit band
      * LSH. ORACLED since round 16: the md5-keyed 60-bit fingerprints
      * replay in DuckDB (see simhashFp), so the fingerprint → band →
      * pair → hamming pipeline is hash-gated; SimhashSpec still pins the
      * properties (identical docs → distance 0; near-dup agreement). */
    "dedup_simhash" -> ((s, dir) =>
      // Stage the pair ARTIFACT per corpus version, like the trigram and
      // minhash pair lists — order re-applied after the staged read.
      graft.Staging.materialize(simhashPairsFromFp(simhashed(s, dir)),
        Tables.path(dir, "documents"), "simhash_pairs_h3_md5_v1")
        .orderBy("doc_a", "doc_b")),

    // Exact word-trigram Jaccard ≥ 0.8 with PPJoin-style prefix filtering:
    // index only the first |g| − ⌈0.8·|g|⌉ + 1 grams of each doc's gram
    // set under a shared global order (lossless for J ≥ 0.8: a qualifying
    // pair MUST share a prefix gram under ANY consistent total order).
    // The order is rarest grams first ([[dfOrderedPrefixInv]]): one df
    // aggregation + join buys prefixes free of a Zipfian corpus's hot
    // grams, whose fan-out is quadratic in their df.
    // The exact |A∩B| / |A∪B| is then computed per candidate from the full
    // gram sets. ⌈0.8·s⌉ uses exact arithmetic (floor((4s+4)/5)) — a float
    // ceil can overshoot and silently shorten the prefix (= missed pairs).
    "dedup_ngram_jaccard" -> ((s, dir) =>
      // Staged pair list (see ngramPairs); re-apply the declared total
      // order after the staged read (a parquet round-trip keeps no order).
      ngramPairs(s, dir).orderBy("doc_a", "doc_b")),

    /** Incremental ingest dedup: the newest ~10% of docs (doc_id·10 ≥
      * 9·max_id — an integral boundary both engines compute identically)
      * checked against the OLDER corpus for an existing near-dup
      * (trigram Jaccard ≥ 0.8). This is the op a production pipeline
      * runs on every ingest batch: the corpus gram relation is the SAME
      * staged artifact every other ngram op shares, so at 100 TB the
      * batch probes an already-materialized index — never a corpus
      * re-scan — and the asymmetric PPJoin bounds candidates to grams
      * the small batch actually carries. */
    "dedup_incremental" -> ((s, dir) => {
      val grams = graft.Staging.materialize(
        ngramGrams(Tables.table(s, dir, "documents").repartition(col("doc_id"))),
        Tables.path(dir, "documents"), "trigrams_sorted_v1")
      // LAZY barrier (r21): g2 feeds FOUR plan references (prefix build +
      // verification arrays, each side) and every one re-ran this 1-row
      // max-aggregate over documents under static planning.
      val mx = Tables.table(s, dir, "documents").agg(max("doc_id").as("mx"))
        .localCheckpoint(false)
      val g2 = grams.crossJoin(broadcast(mx))
      val indexG =
        g2.where(col("doc_id") * 10 < col("mx") * 9).select("doc_id", "g")
      // LAZY barrier: the batch probe side feeds the prefix build AND the
      // verification-array attach — batch-sized (~10% of grams), so the
      // barrier is cheap and saves one staged-artifact scan + filter.
      // The index side's gram df is a pure function of the corpus
      // version — staged like the gram relation, so each ingest batch
      // pays batch-proportional work, not a corpus re-aggregation.
      ngramJaccardAcross(
        g2.where(col("doc_id") * 10 >= col("mx") * 9).select("doc_id", "g")
          .localCheckpoint(false),
        indexG, graft.Staging.materialize(gramDfOf(indexG),
          Tables.path(dir, "documents"), "ngram_df_idx90_v1"))
        .orderBy("doc_id", "dup_id")
    }),

    // Dedup an incoming batch (vec_id < 50) against the corpus by embedding
    // cosine ≥ 0.35: rows whose near-duplicate already exists in the corpus.
    "embed_neardup" -> ((s, dir) => {
      val e = Tables.table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val batch = e.where(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("v").as("q"))
      val corpus = e.where(col("vec_id") >= 50)
      corpus.crossJoin(broadcast(batch))
        .withColumn("sim", round(Vector.cosine(col("q"), col("v")), 6))
        .where(col("sim") >= 0.35)
        .select(col("q_id"), col("vec_id"), col("sim"))
        .orderBy("q_id", "vec_id")
    }),

    /** Contract-oracled since r19 (DedupBloomSpec additionally replays
      * the exact sketch bit pattern via [[bloomProbe]]):
      * memory-BOUNDED incremental exact-dedup membership — the 100 TB
      * posture where the anti-join's build side (every content key ever
      * ingested) fits nowhere, but a ~1.2 B/key Bloom sketch still
      * broadcasts. The staged artifact IS the sketch (fingerprint-keyed
      * like every index); probing is a native codegen'd expression
      * ([[org.apache.spark.sql.graft.BloomMightContain]] — filter
      * deserialized once per task, one hash probe per row). The declared
      * output carries BOTH flags per batch doc: `exact_dup` (ground
      * truth via the key join — at this SF the exact side is still
      * cheap, which is what makes the key self-auditing) and
      * `bloom_flag`; no-false-negative (exact ⇒ flagged) is asserted at
      * runtime in the plan itself via the output's `miss` column, which
      * the spec pins to all-false. */
    // Directional CONTAINMENT near-dup pairs (round 19) — the
    // asymmetric member of the family: C(A→B) = |A∩B|/|A| ≥ 0.9 finds
    // a small doc embedded in a larger one (quotes, excerpts, wrapped
    // reposts), which symmetric Jaccard ≥ 0.8 misses whenever the
    // container is much bigger (jac = inter/union shrinks with |B|).
    // Scale shape — never all-pairs: the threshold bounds only the
    // CONTAINED side, so the prefix filter is one-sided: A is probed by
    // its first |A| − ⌈0.9|A|⌉ + 1 grams, rarest first (the PPJoin
    // losslessness proof needs nothing from B), the container side is
    // the full inverted index, candidate mass =
    // Σ_{A-prefix grams} df(gram) ≈ 10% of the naive inverted join.
    // Verification attaches both gram arrays candidate-bounded (the
    // verifyCandidates posture); the ≥ 0.9 test is EXACT integer
    // (10·inter ≥ 9·|A|); containment is one rounded division. Reads
    // the same staged trigram artifact as the jaccard family.
    "dedup_containment" -> ((s, dir) => graft.Staging.materialize(
      // The pair list is the dedup ARTIFACT (the ngramPairs posture:
      // pair lists live next to the corpus and update incrementally;
      // reports read them) — staged per corpus version, total order
      // re-applied after the staged read.
      containmentFromGrams(stagedGrams(s, dir)),
      Tables.path(dir, "documents"), "containment_pairs09_v1")
      .orderBy("doc_id", "container_id")),

    // Declared output is the CONTRACT-ORACLE projection (r18 verdict
    // item 4 — the agg_approx_distinct pattern): the exact membership
    // decision, which DuckDB replays from raw text equality, plus the
    // sketch's one-sided-error LAW as a column — `no_false_negative`
    // must be constant TRUE (a Bloom filter may false-positive, never
    // false-negative over the seen set), and the oracle pins TRUE. The
    // raw bloom decision itself stays implementation-defined (Spark's
    // hash family) and keeps its bit-level teeth in DedupBloomSpec's
    // driver-side replay of [[bloomProbe]].
    "dedup_bloom_incremental" -> ((s, dir) =>
      bloomProbe(s, dir)
        .select(col("doc_id"), col("exact_dup"),
          (col("bloom_flag") || !col("exact_dup")).as("no_false_negative"))
        .orderBy("doc_id"))
  )

  /** The directional containment ≥ 0.9 pairs over a (doc_id, g: sorted
    * trigram array) relation (see the declared key's staging wrapper
    * above), factored out like [[ngramJaccardFromGrams]] so the property
    * suite runs the same pipeline against a brute-force reference. */
  private[graft] def containmentFromGrams(grams: DataFrame): DataFrame = {
      // Verification intersects 60-bit md5 gram hashes, not the gram
      // STRINGS: the candidate-pair joins would otherwise move ~1 KB of
      // text per row where 8 B/gram carries the same decision (measured
      // 3.1 → ~1 s at sf0.1). Same collision posture as the simhash
      // token hash / the bloom key's md5 content keys: 60-bit hashes
      // over a corpus vocabulary make a cross-doc collision ~1e-8 —
      // documented, and the DuckDB oracle intersects the raw strings,
      // so a collision would fail the gate loudly rather than pass
      // silently.
      val harr = (c: Column) => transform(c,
        g => conv(substring(md5(g.cast("binary")), 1, 15), 16, 10)
          .cast("long"))
      val a = grams.select(col("doc_id").as("a_id"),
        harr(col("g")).as("ha"), size(col("g")).as("sa"))
      // One-sided prefix; the container side carries its size so the
      // SIZE bound sb ≥ ⌈0.9·sa⌉ (containment needs inter ≤ sb) prunes
      // candidates before the distinct (measured ~40% off at sf0.1).
      //
      // The probe prefix is DF-ORDERED (rarest corpus grams first), the
      // jaccard family's builder at the 0.9 prefix length. Losslessness
      // here is even simpler than PPJoin's: containment ≥ 0.9 means at
      // most ⌊0.1·sa⌋ grams of A miss B, so ANY sa−⌈0.9·sa⌉+1 grams of A
      // must hit a true container — the prefix length is what matters,
      // not which grams fill it. Choosing the rarest minimizes candidate
      // mass Σ_prefix df(gram). See OPTIMIZATION_r21.md.
      val prefA = dfOrderedPrefixInv(grams, gramDfOf(grams), 9, 10)
        .select(col("doc_id").as("a_id"), col("sz").as("sa"), col("gram"))
      val invB = grams.select(col("doc_id").as("b_id"),
        size(col("g")).as("sb"), explode(col("g")).as("gram"))
      val cand = prefA.join(invB, "gram")
        .where(col("a_id") =!= col("b_id") &&
          col("sb") * 10 >= col("sa") * 9)
        .select("a_id", "b_id").distinct()
      cand.join(a, "a_id")
        .join(grams.select(col("doc_id").as("b_id"),
          harr(col("g")).as("hb")), "b_id")
        .select(col("a_id"), col("b_id"), col("sa"),
          size(array_intersect(col("ha"), col("hb"))).as("inter"))
        .where(col("inter") * 10 >= col("sa") * 9)
        .select(col("a_id").as("doc_id"), col("b_id").as("container_id"),
          col("inter").cast("long").as("inter"),
          col("sa").cast("long").as("n_grams"),
          round(col("inter").cast("double") / col("sa").cast("double"), 6)
            .as("containment"))
  }

  /** Full incremental-Bloom probe relation, raw sketch decision included:
    * (doc_id, exact_dup, bloom_flag, miss) for every post-boundary doc.
    * The declared key projects its oracle contract from this; the spec
    * replays bloom_flag bit-exactly. */
  private[graft] def bloomProbe(
      s: SparkSession, dir: String): DataFrame = {
      val key = md5(lower(trim(col("text")))).as("k")
      val staged = graft.Staging.materialize(
        s, Tables.path(dir, "documents"), "bloom_exact_idx90_v1") {
        import s.implicits._
        val d = Tables.table(s, dir, "documents")
        // 1-row bounded collect (the sink_partitioned day-literal
        // pattern): the ingest boundary, then a driver-held sketch —
        // bounded model state like the PQ codebook, never row data.
        val mxv = d.agg(max("doc_id")).head().getLong(0)
        val corpus = d.where(col("doc_id") * 10 < lit(mxv) * 9).select(key)
        val bf = corpus.stat.bloomFilter(
          "k", math.max(corpus.count(), 1L), 0.01)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        Seq((mxv, bos.toByteArray)).toDF("mx", "bloom")
      }
      // Bounded collect of the 1-row staged sketch (KB–MB class).
      val meta = staged.head()
      val mxv = meta.getLong(0)
      val bloomLit = lit(meta.getAs[Array[Byte]](1))
      val d = Tables.table(s, dir, "documents")
      val corpusKeys = d.where(col("doc_id") * 10 < lit(mxv) * 9)
        .select(key).distinct().withColumn("hit", lit(true))
      d.where(col("doc_id") * 10 >= lit(mxv) * 9)
        .select(col("doc_id"), key)
        .join(corpusKeys, Seq("k"), "left")
        .select(col("doc_id"),
          coalesce(col("hit"), lit(false)).as("exact_dup"),
          org.apache.spark.sql.graft.BloomMightContain(bloomLit, col("k"))
            .as("bloom_flag"))
        .withColumn("miss", col("exact_dup") && !col("bloom_flag"))
        .orderBy("doc_id")
  }

  /** The corpus's exact trigram-Jaccard ≥ 0.8 near-dup pair list,
    * materialized once per corpus version and shared by
    * `dedup_ngram_jaccard` (ordered report) and `dedup_cluster` (CC edge
    * set). Two staging layers: the sorted-trigram relation (referenced 4×
    * by the PPJoin plan: index ×2 + attach ×2) and the pair list itself
    * (consumed by two declared keys). This is the production shape — at
    * 100 TB the near-dup pair list lives next to the corpus and updates
    * incrementally; downstream clustering/reporting reads it, it is not
    * recomputed per query. The inner scan repartitions first so the
    * cold-path prefix join's parallelism never pins to the source's
    * (few, at test SF) parquet splits. */
  def ngramPairs(s: SparkSession, dir: String): DataFrame =
    graft.Staging.materialize(ngramJaccardFromGrams(stagedGrams(s, dir)),
      Tables.path(dir, "documents"), "ngram_pairs08_v1")

  /** The corpus's sorted-distinct-trigram relation, staged per corpus
    * version — the one artifact the jaccard PPJoin (4 plan references)
    * and the containment prefix join both read. */
  private[graft] def stagedGrams(s: SparkSession, dir: String): DataFrame =
    graft.Staging.materialize(
      ngramGrams(
        Tables.table(s, dir, "documents").repartition(col("doc_id"))),
      Tables.path(dir, "documents"), "trigrams_sorted_v1")

  /** Exact word-trigram Jaccard ≥ 0.8 pairs over any (doc_id, text)
    * relation — the body of `dedup_ngram_jaccard`, factored out so the
    * ScalaCheck property suite can run the SAME pipeline against
    * generated corpora and a brute-force all-pairs reference. */
  def ngramJaccardPairs(docs: DataFrame): DataFrame =
    ngramJaccardFromGrams(ngramGrams(docs))

  /** (doc_id, sorted distinct trigram array) per doc with ≥ 3 tokens.
    * The shared window ([[Words.grams]]) guards its own length, so the
    * optimizer may evaluate a filter on `g` (the non-empty filter it
    * infers for a downstream explode) before `size(t) >= 3` safely. */
  def ngramGrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), Words.lowered.as("t"))
      .where(size(col("t")) >= 3)
      .select(col("doc_id"),
        array_sort(array_distinct(Words.grams(col("t"), 3))).as("g"))

  /** Exact trigram-Jaccard ≥ 0.8 pairs ACROSS two gram relations — the
    * incremental-ingest shape: `probe` is a small new batch, `index` the
    * existing corpus. Same lossless PPJoin filters as the self-join
    * variant below: the prefix-filter proof concerns any TWO sets under
    * one consistent total order, not both sets coming from one
    * collection. Output: (doc_id [probe], dup_id [index], jac).
    * Both prefixes take the rarest grams first under the INDEX side's
    * gram df `indexGramDf` (batch grams the corpus has never seen get
    * df 0 — rarest, and harmless: a gram with corpus df 0 can't produce
    * a candidate anyway), so a batch prefix carries no hot corpus gram
    * and candidate fan-out Σ_batch-prefix-grams df(gram) stays small.
    * The caller passes a per-corpus-version STAGED df relation, so each
    * ingest batch pays only batch-proportional work. */
  def ngramJaccardAcross(probe: DataFrame, index: DataFrame,
                         indexGramDf: DataFrame): DataFrame =
    verifyCandidates(ppjoinCandidates(
        dfOrderedPrefixInv(probe, indexGramDf, 4, 5),
        dfOrderedPrefixInv(index, indexGramDf, 4, 5), crossOnly = true),
      probe, index)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("dup_id"),
        col("jac"))

  /** Per-gram document frequency of a (doc_id, g) relation. */
  private[graft] def gramDfOf(grams: DataFrame): DataFrame =
    grams.select(explode(col("g")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))

  /** Prefix inverted-index rows (doc_id, sz, pos, gram): each doc's first
    * sz − ⌈(num/den)·sz⌉ + 1 grams — the PPJoin prefix length for a
    * similarity threshold num/den — under the (df, gram) total order
    * given by `gramDf`, rarest grams first; grams absent from `gramDf`
    * rank rarest (df 0). array_sort on struct(df, gram) is a single
    * consistent total order shared by every doc, which is all the
    * prefix-filter losslessness proof requires. The ceiling is exact
    * integer arithmetic (floor((num·sz + den − 1)/den)): a float ceil can
    * overshoot and silently shorten the prefix (= missed pairs). */
  private def dfOrderedPrefixInv(grams: DataFrame, gramDf: DataFrame,
                                 num: Int, den: Int): DataFrame =
    grams
      .select(col("doc_id"), size(col("g")).as("sz"),
        explode(col("g")).as("gram"))
      .join(gramDf, Seq("gram"), "left")
      .na.fill(0L, Seq("df"))
      .groupBy("doc_id", "sz")
      .agg(array_sort(collect_list(struct(col("df"), col("gram"))))
        .as("gs"))
      .select(col("doc_id"), col("sz"),
        posexplode(slice(col("gs"), lit(1), col("sz") -
          floor((col("sz") * num + (den - 1)) / den).cast("int") + 1)))
      .select(col("doc_id"), col("sz"), col("pos"),
        col("col.gram").as("gram"))

  /** PPJoin candidate pairs from two prefix inverted indexes. The three
    * LOSSLESS filters, applied as integer join conditions before any
    * candidate materializes:
    *  - shared prefix gram (the prefix filter — see [[dfOrderedPrefixInv]]);
    *  - length filter: J ≤ min(sz)/max(sz), so J ≥ 0.8 needs 5·min ≥ 4·max;
    *  - positional filter: shared grams all sort ≥ the current one, so
    *    inter ≤ min(sz−pos), which must reach (4/9)(sz_a+sz_b), the
    *    minimum intersection J ≥ 0.8 implies (t/(1+t)·(|A|+|B|)) —
    *    kept in exact integer form (9·min(sz−pos) ≥ 4·(sz_a+sz_b)).
    * Measured at sf0.1 these drop candidates ~220k → ~30k for the same
    * exact result, and the expensive array_intersect runs per survivor.
    * (Tried: joining on xxhash64(gram) instead of the string — lossless
    * because collisions only add candidates the exact verification
    * rejects — but measured ~2 s slower at sf0.1; the extra hash pass
    * outweighs the narrower key at this gram length. Revisit for
    * long-shingle corpora where gram strings are wide.)
    * `crossOnly=false` adds doc_a < doc_b (self-join dedup of the
    * symmetric pair); `true` keeps every (probe, index) combination. */
  private def ppjoinCandidates(invA: DataFrame, invB: DataFrame,
                               crossOnly: Boolean): DataFrame = {
    val base = col("gram") === col("gram_b") &&
      col("sz_a") * 4 <= col("sz_b") * 5 &&
      col("sz_b") * 4 <= col("sz_a") * 5 &&
      least(col("sz_a") - col("pos_a"), col("sz_b") - col("pos_b")) * 9 >=
        (col("sz_a") + col("sz_b")) * 4
    invA.select(col("doc_id").as("doc_a"), col("gram"),
        col("pos").as("pos_a"), col("sz").as("sz_a"))
      .join(invB.select(col("doc_id").as("doc_b"), col("gram").as("gram_b"),
          col("pos").as("pos_b"), col("sz").as("sz_b")),
        if (crossOnly) base else base && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact verification: full-gram-array Jaccard for each candidate,
    * keep ≥ 0.8, output (doc_a, doc_b, jac rounded 6dp). */
  private def verifyCandidates(cand: DataFrame, gramsA: DataFrame,
                               gramsB: DataFrame): DataFrame = {
    val jac = col("inter") / (col("sz_a") + col("sz_b") - col("inter"))
    cand
      .join(gramsA.select(col("doc_id").as("doc_a"), col("g").as("ga")), "doc_a")
      .join(gramsB.select(col("doc_id").as("doc_b"), col("g").as("gb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ga"), col("gb"))).as("inter"),
        size(col("ga")).as("sz_a"), size(col("gb")).as("sz_b"))
      .where(jac >= 0.8)
      .select(col("doc_a"), col("doc_b"), round(jac, 6).as("jac"))
  }

  /** PPJoin candidate generation + exact verification over a
    * (doc_id, g: sorted trigram array) relation. Prefixes take each doc's
    * rarest grams first ([[dfOrderedPrefixInv]]): one df aggregation +
    * join + per-doc re-sort, lossless, and a Zipfian corpus's hot grams
    * never reach the prefix index, where their fan-out is quadratic in
    * their df. */
  def ngramJaccardFromGrams(grams: DataFrame): DataFrame = {
    // The df relation shuffles once on gram (same key the inverted-index
    // join uses anyway); at scale it's corpus-linear and reusable across
    // runs like the gram relation itself.
    val inv = dfOrderedPrefixInv(grams, gramDfOf(grams), 4, 5)
    verifyCandidates(ppjoinCandidates(inv, inv, crossOnly = false),
      grams, grams)
    // NO trailing sort here: ngramPairs stages this result to parquet
    // (which keeps no order — the cold path would pay a full
    // range-shuffle sort only to throw it away); consumers that need
    // the declared total order apply it themselves.
  }

  val oracles: Map[String, String] = Map(
    // Full (directional) inverted join — the oracle affords the naive
    // exact pair enumeration the Spark side prefix-filters; same grams
    // prefix constant as the jaccard family, sans the a<b pair tail.
    "dedup_containment" ->
      ("WITH " + Pipeline.NearDupGramsCte + ", " +
       "prc AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
       "count(*) AS inter FROM inv a JOIN inv b ON a.gram = b.gram " +
       "AND a.doc_id <> b.doc_id GROUP BY 1, 2) " +
       "SELECT p.a_id AS doc_id, p.b_id AS container_id, " +
       "CAST(p.inter AS BIGINT) AS inter, " +
       "CAST(sa.sz AS BIGINT) AS n_grams, " +
       "round(CAST(p.inter AS DOUBLE) / sa.sz, 6) AS containment " +
       "FROM prc p JOIN sizes sa ON sa.doc_id = p.a_id " +
       "WHERE p.inter * 10 >= sa.sz * 9 " +
       "ORDER BY doc_id, container_id"),
    // Contract-flag replay (r19): exact membership from raw text
    // equality across the same 90% ingest boundary; the sketch law
    // column is the literal TRUE the one-sided-error guarantee promises.
    // md5 keying on the Spark side is content-equivalent to direct
    // normalized-text equality here.
    "dedup_bloom_incremental" ->
      ("WITH mx AS (SELECT max(doc_id) AS m FROM documents) " +
       "SELECT p.doc_id, EXISTS (SELECT 1 FROM documents c, mx " +
       "WHERE c.doc_id * 10 < mx.m * 9 " +
       "AND lower(trim(c.text)) = lower(trim(p.text))) AS exact_dup, " +
       "TRUE AS no_false_negative " +
       "FROM documents p, mx WHERE p.doc_id * 10 >= mx.m * 9 " +
       "ORDER BY p.doc_id"),
    "dedup_simhash" -> {
      // Full replay of the md5-keyed 60-bit SimHash, generated from the
      // same constants: token hash = first 15 md5 hex chars as BIGINT,
      // bit i of the fingerprint = sign of the ±1 sum over tokens, bands
      // = 15-bit windows, candidates from band equality, exact popcount
      // hamming ≤ 3. Integer arithmetic end to end — nothing to round.
      val bitCols = (0 until SimBits).map { i =>
        s"CASE WHEN sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) " +
          s">= 0 THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) " +
          s"END AS b$i"
      }.mkString(", ")
      val fpSum = (0 until SimBits).map(i => s"b$i").mkString(" + ")
      val bandSel = (0 until SimBands).map { b =>
        s"SELECT doc_id, fp, $b AS band_id, " +
          s"(fp >> ${SimBandBits * b}) & ${(1L << SimBandBits) - 1} AS bv " +
          "FROM fps"
      }.mkString(" UNION ALL ")
      "WITH tok AS (SELECT DISTINCT doc_id, " +
        s"unnest(list_distinct(${Words.LoweredSql})) AS t " +
        "FROM documents), " +
        "tokh AS (SELECT doc_id, " +
        "CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok), " +
        s"bits AS (SELECT doc_id, $bitCols FROM tokh GROUP BY doc_id), " +
        s"fps AS (SELECT doc_id, ($fpSum) AS fp FROM bits), " +
        s"bands AS ($bandSel), " +
        "cand AS (SELECT DISTINCT l.doc_id AS doc_a, l.fp AS fp_a, " +
        "r.doc_id AS doc_b, r.fp AS fp_b " +
        "FROM bands l JOIN bands r ON l.band_id = r.band_id " +
        "AND l.bv = r.bv AND l.doc_id < r.doc_id) " +
        "SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) " +
        "AS hamming FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3 " +
        "ORDER BY doc_a, doc_b"
    },
    "dedup_ngram_jaccard" ->
      ("WITH " + Pipeline.NearDupGramsCte + ", " +
        "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter " +
        "FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, round(inter / (sa.sz + sb.sz - inter), 6) AS jac " +
        "FROM pairs JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b " +
        "WHERE inter / (sa.sz + sb.sz - inter) >= 0.8 ORDER BY doc_a, doc_b"),
    "dedup_incremental" ->
      ("WITH " + Pipeline.IncrementalPairsCte + " " +
        "SELECT p.doc_id, p.dup_id, round(inter / (sa.sz + sb.sz - inter), 6) AS jac " +
        "FROM pairs p JOIN sizes sa ON sa.doc_id = p.doc_id " +
        "JOIN sizes sb ON sb.doc_id = p.dup_id " +
        "WHERE inter / (sa.sz + sb.sz - inter) >= 0.8 ORDER BY p.doc_id, p.dup_id"),
    "embed_neardup" ->
      ("WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "b AS (SELECT vec_id AS q_id, v AS q FROM e WHERE vec_id < 50), " +
        "c AS (SELECT vec_id, v FROM e WHERE vec_id >= 50) " +
        "SELECT q_id, vec_id, round(list_cosine_similarity(q, v), 6) AS sim " +
        "FROM b CROSS JOIN c WHERE round(list_cosine_similarity(q, v), 6) >= 0.35 " +
        "ORDER BY q_id, vec_id")
  )
}
