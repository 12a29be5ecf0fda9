package graft.ops

import graft.{D, Tables}
import graft.QueryDefs.Q
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.10 text-analysis + dedup operators over `documents`.
  *
  * Scale notes: every operator is explode→two-phase-aggregate or
  * hash-aggregate shaped — the heavy per-document work (tokenize, shingle,
  * hash) happens map-side before any shuffle, and only (key, partial)
  * pairs cross the wire. `dedup_minhash` is banded LSH: candidate pairs are
  * generated ONLY inside (band_id, band_hash) buckets — never an all-pairs
  * self-join — which is the property that lets it run on a corpus that
  * doesn't fit one machine.
  */
object Text {

  /** MinHash parameters: 32 md5-keyed min-hashes, 4 bands × 8 rows.
    * Fixed seeds ⇒ fully deterministic signatures (§7.4 risk 6), and md5
    * makes them ENGINE-PORTABLE (the DuckDB oracle replays them).
    * Banding is tuned to the J ≥ 0.9 report threshold: the s-curve
    * midpoint is (1/b)^(1/r) = (1/4)^(1/8) ≈ 0.84, so J = 0.9 pairs
    * collide w.p. ~0.93 while the candidate volume from the J ≈ 0.6–0.8
    * bulk of this corpus drops ~5× vs the previous 8 × 4 tuning (which
    * had its midpoint at 0.59 and made nearly every similar-ish pair a
    * candidate — 25 s at sf0.1 for a 0.9-threshold query). */
  private val NumHashes = 32
  private val BandRows = 8
  private val NumBands = NumHashes / BandRows

  val queries: Map[String, Q] = Map(
    "text_wordcount" -> ((s, dir) =>
      Tables.table(s, dir, "documents")
        .select(explode(Words.lowered).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))),

    // tf·idf with idf = ln((N+1)/(df+1)) over the shared bm25Parts tf/df
    // (tf is counted inside each document's row); the corpus size N is
    // joined in as a broadcast one-row aggregate, not collected at the
    // driver.
    "text_tfidf" -> ((s, dir) => {
      val p = bm25Parts(s, dir)
      p.tf.join(p.df, "term").crossJoin(broadcast(p.n))
        .select(col("doc_id"), col("term"), tfidfScore.as("score"))
        .orderBy(col("score").desc, col("doc_id"), col("term"))
        .limit(100)
    }),

    /** BM25 ranking (round 17 — r16 verdict item 5): the IR-default
      * corpus-level query scoring text_tfidf stops short of. Okapi BM25
      * with the standard k1 = 1.2, b = 0.75:
      * score(d,t) = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
      * idf = ln((N − df + 0.5)/(df + 0.5) + 1). The query set is DERIVED
      * deterministically from the corpus (the semCellCount precedent —
      * no literal vocabulary to go stale on a regenerated corpus): the 5
      * highest-df terms under (df DESC, term), i.e. the head of the
      * document-frequency table, exactly where tf saturation and length
      * normalization separate BM25 from tf·idf. Per query term the top
      * 10 docs by (score DESC, doc_id).
      *
      * Scale: tf and dl come from one documents scan, counted inside the
      * row (bm25Parts), and df is one two-phase hash aggregate over them;
      * the 5-term query relation and the 1-row corpus stats (N, avgdl)
      * broadcast; tf joins the BROADCAST query terms FIRST, so only rows
      * for 5 terms reach the per-term window — which Spark plans with a partial
      * WindowGroupLimit (rank ≤ 10 applied map-side before the shuffle,
      * the join_lateral posture), so no term ever sorts a corpus-sized
      * partition in one task. avgdl is an exact BIGINT token count over
      * an exact doc count, divided ONCE — both engines run the same
      * IEEE division, then one shared expression tree per row, rounded
      * 6dp at the very end. */
    "text_bm25" -> ((s, dir) =>
      bm25Top10(s, dir)
        .select(col("term"), col("rnk"), col("doc_id"), col("score"))
        .orderBy("term", "rnk")),

    /** Reciprocal-rank fusion (round 17) — the HYBRID-retrieval merge
      * step: two rankers disagree on scale (BM25 scores and tf·idf
      * scores are incomparable numbers), so production search fuses
      * their RANKS, not their scores: rrf(d) = Σ_r 1/(60 + rank_r(d))
      * (the standard k = 60), over the shared derived 5-term query set.
      * Ranker 1 is the BM25 top-10 (shared bm25Top10 derivation — the
      * fusion can never drift from the declared text_bm25 ranking);
      * ranker 2 is the tf·idf top-10 under the text_tfidf idf. A doc in
      * one list only contributes one term (coalesce 0 for the other) —
      * the full-outer join IS the fusion. Top-5 per query term by
      * (rrf DESC, doc_id).
      *
      * Determinism: ranks are ints; 1/(60+r) is one exact IEEE division
      * and the two-term sum is written in the same coalesce order both
      * engines. Scale: both rankers are already query-bounded (5 terms ×
      * top-10), so the fusion joins two 50-row relations — free at any
      * corpus size; the cost lives in the rankers, which stay
      * WindowGroupLimit-bounded. */
    "text_rrf_fusion" -> ((s, dir) => {
      val p = bm25Parts(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("term").orderBy(col("score").desc, col("doc_id"))
      val t10 = p.tf.join(broadcast(p.qterms), "term")
        .crossJoin(broadcast(p.n))
        .select(col("term"), col("doc_id"), tfidfScore.as("score"))
        .withColumn("trnk", row_number().over(w))
        .where(col("trnk") <= 10).select("term", "doc_id", "trnk")
      val b10 = bm25Top10(p)
        .select(col("term"), col("doc_id"), col("rnk").as("brnk"))
      val rrf = round(
        coalesce(lit(1.0) / (lit(60) + col("brnk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("trnk")), lit(0.0)), 6)
      val fused = b10.join(t10, Seq("term", "doc_id"), "full_outer")
        .select(col("term"), col("doc_id"), rrf.as("rrf"))
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy("term").orderBy(col("rrf").desc, col("doc_id"))
      fused.withColumn("rnk", row_number().over(wf))
        .where(col("rnk") <= 5)
        .select(col("term"), col("rnk"), col("doc_id"), col("rrf"))
        .orderBy("term", "rnk")
    }),

    /** PMI collocation extraction (round 17) — the phrase-mining pass a
      * corpus-curation pipeline runs to find multiword expressions worth
      * protecting from tokenization ("new york", "machine learning"):
      * pointwise mutual information of each ADJACENT token pair against
      * its parts' unigram frequencies, pmi = ln(p(xy)/(p(x)p(y))) with
      * p(xy) = c_xy/Nb over bigram positions and p(x) = c_x/Nu over
      * token positions; pairs seen < 5× are dropped (the standard
      * low-count PMI blowup guard), top 20 by (pmi DESC, w1, w2).
      *
      * Scale: the bigram relation is built MAP-SIDE from the shared word
      * window ([[Words.pairs]] — adjacency is a property of the array, no
      * per-doc lead() window and therefore no corpus-sized shuffle just
      * to see the next token; the DuckDB
      * replay keeps the window formulation, which doubles as an
      * independent derivation of the pairs), then everything is
      * two-phase hash aggregates; unigram counts re-attach by two
      * bounded-vocab joins and the final top-20 is a sort-limit
      * (TakeOrderedAndProject), never a global sort. The count products
      * inside the ln are computed as doubles (identical left-assoc tree
      * both engines — exact-int products would overflow int64 at corpus
      * scale, which is the same reason the oracle doesn't CAST late). */
    "text_collocations" -> ((s, dir) => {
      val docs = Tables.table(s, dir, "documents")
        .select(Words.lowered.as("t"))
      val toks = docs.select(explode(col("t")).as("term"))
      val bi = docs.select(explode(Words.pairs(col("t"))).as("p"))
        .select(col("p.w1"), col("p.w2"))
      val cxy = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
        .where(col("c_xy") >= 5)
      // LAZY localCheckpoint barrier: uni feeds three consumers (the two
      // unigram re-attach joins + nu below) and static planning would
      // re-run the full tokenize+explode+aggregate once per reference
      // (pushed join filters defeat exchange reuse — the q21 rescan
      // class, see plans/r21/text_collocations_before.txt).
      val uni = toks.groupBy("term").agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      // exact-integer identities (r21, guide §2.4): Σ unigram counts ≡
      // token positions, and every doc contributes exactly len−1 bigram
      // positions (split() never returns an empty array, and the word
      // window yields len−1 pairs per doc), so
      // nb = nu − |docs|. Replaces two more full explode passes over the
      // corpus with a vocab-sized sum and a row count.
      val nu = uni.agg(sum("c").as("nu"))
      val nb = nu.crossJoin(docs.agg(count(lit(1)).as("nd")))
        .select((col("nu") - col("nd")).as("nb"))
      val pmi = round(log(
        (col("c_xy").cast("double") * col("nu") * col("nu")) /
          (col("nb").cast("double") * col("c_x") * col("c_y"))), 6)
      cxy
        .join(uni.withColumnsRenamed(Map("term" -> "w1", "c" -> "c_x")), "w1")
        .join(uni.withColumnsRenamed(Map("term" -> "w2", "c" -> "c_y")), "w2")
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .select(col("w1"), col("w2"), col("c_xy"), pmi.as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    "text_stats" -> ((s, dir) =>
      Tables.table(s, dir, "documents")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
             D.avg2(col("n_chars")).as("avg_chars"),
             D.avg2(size(Words.raw)).as("avg_toks"))
        .orderBy("lang", "source")),

    "dedup_exact" -> ((s, dir) =>
      Tables.table(s, dir, "documents")
        .groupBy("lang")
        .agg(countDistinct(lower(trim(col("text")))).as("uniq_docs"),
             count(lit(1)).as("total_docs"))
        .orderBy("lang")),

    /** MinHash/LSH near-dup pairs (est. Jaccard ≥ 0.9 over token sets).
      * ORACLED since round 16: the md5-keyed signatures replay in DuckDB
      * (see minhashSign), so the full signature → band-bucket → pair →
      * estimate pipeline is hash-gated; MinhashSpec still pins the
      * statistical property (estimate tracks exact Jaccard).
      *
      * The pair list — the dedup ARTIFACT — is staged per corpus version
      * (this near-dup-saturated corpus yields ~1.3M pairs at sf0.1, and
      * the sig re-attach + 32-way compare over them dominates the query).
      * Same production shape as the signatures: pair lists live next to
      * the corpus and update incrementally; reports read them. The total
      * order is re-applied after the staged read. */
    "dedup_minhash" -> ((s, dir) =>
      graft.Staging.materialize(
        minhashPairsFromSig(minhashSigned(s, dir)),
        Tables.path(dir, "documents"), "minhash_pairs09_md5_v1")
        .orderBy("doc_a", "doc_b"))
  )

  /** The shared tokenize → tf/dl/df → derived query set → corpus stats
    * derivations behind text_tfidf, text_bm25 AND text_rrf_fusion's
    * second ranker — ONE definition so the fusion's inputs can never
    * drift from the declared rankings (r17 review: the rrf key originally re-derived
    * all four relations inline — two full corpus tokenize+aggregate
    * pipelines per run and a silent-drift risk the oracle side had
    * already eliminated with its shared CTE prefix).
    *
    * tf is [[termFreqs]]: one documents scan, counted inside the row,
    * with no (doc_id, term) shuffle. The corpus token total is Σ tf over
    * the barrier (≡ the sum of the word arrays' sizes), an exact BIGINT;
    * summing sizes over documents instead would be a second documents
    * scan, which PlanAuditSpec's plan sweep flags in text_rrf_fusion. */
  private case class Bm25Parts(tf: DataFrame, df: DataFrame,
                               qterms: DataFrame, n: DataFrame,
                               stats: DataFrame)
  private def bm25Parts(s: org.apache.spark.sql.SparkSession,
                        dir: String): Bm25Parts = {
    val docs = Tables.table(s, dir, "documents")
    // LAZY localCheckpoint barrier: tf feeds two to three references (the
    // scoring joins and df), and static planning re-runs the scan and the
    // per-row sort once per reference. Measured on 4 cores, warm, at
    // sf0.1 replicated 10× (ScaleProbe replica): text_rrf_fusion 3.0 and
    // 3.4 s with the barrier (two runs), 4.7 s without it.
    val tf = termFreqs(docs).localCheckpoint(false)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qterms = df.orderBy(col("df").desc, col("term")).limit(5)
    val n = docs.agg(count(lit(1)).as("n"))
    val stats = tf.agg(sum("tf").as("toktot")).crossJoin(n)
      .select(col("n"), (col("toktot").cast("double") / col("n")).as("avgdl"))
    Bm25Parts(tf, df, qterms, n, stats)
  }

  /** `(doc_id, dl, term, tf)` for any (doc_id, text) relation: each
    * document's term frequencies counted inside its row
    * ([[Words.valueCounts]] over its lowered words), with the document
    * length dl = the word array's size. NULL-text documents have no
    * rows. */
  private[graft] def termFreqs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Words.lowered.as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        inline(Words.valueCounts(col("t"))))
      .select(col("doc_id"), col("dl"), col("v").as("term"),
        col("c").cast("long").as("tf"))

  /** The text_tfidf scoring expression (tf · ln((N+1)/(df+1)), 6dp) —
    * shared with text_rrf_fusion's second ranker. */
  private def tfidfScore: Column =
    round(col("tf") * log((col("n") + lit(1.0)) / (col("df") + lit(1.0))), 6)

  private def bm25Top10(s: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame = bm25Top10(bm25Parts(s, dir))

  /** BM25 ranking (term, rnk, doc_id, score): the full scoring pipeline
    * behind `text_bm25`, shared with `text_rrf_fusion` so the fused
    * ranking can never drift from the declared one. Okapi BM25 with the
    * standard k1 = 1.2, b = 0.75; query set DERIVED from the corpus
    * (top-5 terms by (df DESC, term) — a sort-limit, so
    * TakeOrderedAndProject holds top-5 per partition map-side, no
    * single-task vocab sort); tf joins the BROADCAST query terms FIRST,
    * so only 5 terms' rows reach the per-term window (planned as a
    * partial WindowGroupLimit). avgdl is an exact BIGINT token count over
    * an exact doc count divided ONCE; one shared IEEE expression tree per
    * row, rounded 6dp at the end. Parts-taking so text_rrf_fusion derives
    * BOTH rankers from ONE Bm25Parts instance — the two-call form built
    * every shared subtree (tf/df/qterms/stats) twice per plan (r21). */
  private def bm25Top10(p: Bm25Parts): DataFrame = {
    val k1 = lit(1.2)
    val b = lit(0.75)
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val score = idf * (col("tf") * (k1 + 1.0)) /
      (col("tf") + k1 * (lit(1.0) - b + b * (col("dl") / col("avgdl"))))
    val scored = p.tf.join(broadcast(p.qterms), "term")
      .crossJoin(broadcast(p.stats))
      .select(col("term"), col("doc_id"), round(score, 6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 10)
  }

  /** (doc_id, sig) for any (doc_id, text) relation — the pure signature
    * pipeline. PORTABLE since round 16 (r15 verdict item 5): component i
    * is the MIN over shingles of md5("i:" ++ shingle) kept as its
    * fixed-width lowercase hex STRING — lexicographic min ≡ numeric min
    * at fixed width, and md5 is the one hash both engines compute
    * byte-identically (the sample_hash/fn_hash precedent), so the DuckDB
    * oracle replays the whole signature → band → pair pipeline and the
    * key graduated from no-oracle to hash-gated. Cost note: 32 md5s per
    * distinct shingle replace one xxhash64 + 32 long re-hashes — ~2× the
    * signature build, which is run ONCE per corpus version into the
    * staged artifact (the warm path reads pairs; bench unaffected). */
  def minhashSign(docs: DataFrame): DataFrame = {
    val sig = array((0 until NumHashes).map { i =>
      array_min(transform(col("toks"),
        t => md5(concat(lit(s"$i:"), t).cast("binary"))))
    }: _*)
    docs.select(col("doc_id"),
        array_distinct(Words.lowered).as("toks"))
      .select(col("doc_id"), sig.as("sig"))
  }

  /** The staged per-corpus-version signature relation. It is referenced
    * FOUR times by the pair plan (both band sides + both sig re-attach
    * sides) and Spark evaluates it once per reference — materialize it
    * once (Staging) so the expensive hash-fold runs a single time per
    * corpus version. Repartition the scan before the one-time signature
    * computation: without it the 32-hash fold on the cold run would be
    * pinned to the source's (few, at test SF) parquet splits. */
  private def minhashSigned(s: org.apache.spark.sql.SparkSession,
                            dir: String): DataFrame =
    graft.Staging.materialize(
      minhashSign(Tables.table(s, dir, "documents").repartition(col("doc_id"))),
      Tables.path(dir, "documents"), "minhash_sig32_md5_v1")

  /** Banded-LSH est-Jaccard ≥ 0.9 pairs from a (doc_id, sig) relation —
    * the pure pair pipeline behind `dedup_minhash`. LSH banding: one
    * hash per 8-component band; docs sharing any band hash become
    * candidates. The bucket join carries ONLY doc
    * ids — dragging the 32-long signature arrays through the join and
    * then distinct-ing on them forces a sort-based aggregate over wide
    * rows (arrays aren't hash-aggregatable) and was 27× slower at sf0.1.
    * Narrow (doc_a, doc_b) pairs dedup in a primitive hash aggregate;
    * signatures are re-attached afterwards with two id-keyed joins. */
  def minhashPairsFromSig(signed: DataFrame): DataFrame = {
    val banded = signed.select(col("doc_id"),
      explode(array((0 until NumBands).map { b =>
        struct(lit(b).as("band_id"),
          // md5 over the 8 concatenated component hexes: the oracle
          // replays it as md5(s0||s1||…) verbatim
          md5(concat((BandRows * b until BandRows * (b + 1))
            .map(j => col("sig")(j)): _*).cast("binary")).as("band_hash"))
      }: _*)).as("band"))
      .select(col("doc_id"),
              col("band.band_id").as("band_id"),
              col("band.band_hash").as("band_hash"))
    val l = banded.select(col("doc_id").as("doc_a"),
                          col("band_id"), col("band_hash"))
    val r = banded.select(col("doc_id").as("doc_b"),
                          col("band_id").as("band_id_r"),
                          col("band_hash").as("band_hash_r"))
    val cand = l.join(r, col("band_id") === col("band_id_r") &&
              col("band_hash") === col("band_hash_r") &&
              col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(signed.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
            "doc_a")
      .join(signed.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
            "doc_b")
      .withColumn("matches",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), _ + _))
      .withColumn("est_jac", round(col("matches") / NumHashes.toDouble, 6))
      .where(col("est_jac") >= 0.9)
      .select("doc_a", "doc_b", "est_jac")
  }

  /** The BM25 scoring pipeline as a DuckDB CTE prefix ending in
    * `ranked(term, doc_id, score, rnk)` (plus tf/df/q/st, which the
    * rrf-fusion oracle reuses) — one constant shared by the text_bm25
    * and text_rrf_fusion oracles, mirroring the Spark side's shared
    * bm25Top10 so a k1/b/idf change can never update one replay and
    * leave the other describing a different ranking. */
  private val Bm25RankedCte =
    s"toks AS (SELECT doc_id, unnest(${Words.LoweredSql}) AS term " +
    "FROM documents), " +
    "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term), " +
    "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id), " +
    "df AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
    "q AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT 5), " +
    "st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM toks) / " +
    "(SELECT count(*) FROM documents) AS avgdl, " +
    "(SELECT count(*) FROM documents) AS n), " +
    "sc AS (SELECT q.term, tf.doc_id, " +
    "round(ln((st.n - q.df + 0.5) / (q.df + 0.5) + 1.0) * " +
    "(tf.tf * (1.2 + 1.0)) / " +
    "(tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl.dl / st.avgdl))), 6) AS score " +
    "FROM tf JOIN q USING (term) JOIN dl USING (doc_id) CROSS JOIN st), " +
    "ranked AS (SELECT term, doc_id, score, " +
    "row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id) AS rnk " +
    "FROM sc)"

  val oracles: Map[String, String] = Map(
    // Same lead()-window bigrams, same ≥5 count floor, the identical
    // left-associated double product tree inside ln, 6dp once.
    "text_collocations" ->
      ("WITH toks AS (SELECT doc_id, " +
       Words.positionedSql("term", "pos") + " FROM documents), " +
       "bi AS (SELECT term AS w1, lead(term) OVER (PARTITION BY doc_id " +
       "ORDER BY pos) AS w2 FROM toks), " +
       "bi2 AS (SELECT w1, w2 FROM bi WHERE w2 IS NOT NULL), " +
       "cxy AS (SELECT w1, w2, count(*) AS c_xy FROM bi2 GROUP BY 1, 2 " +
       "HAVING count(*) >= 5), " +
       "uni AS (SELECT term, count(*) AS c FROM toks GROUP BY 1), " +
       "nu AS (SELECT count(*) AS nu FROM toks), " +
       "nb AS (SELECT count(*) AS nb FROM bi2) " +
       "SELECT w1, w2, c_xy, " +
       "round(ln((CAST(c_xy AS DOUBLE) * nu * nu) / " +
       "(CAST(nb AS DOUBLE) * ux.c * uy.c)), 6) AS pmi " +
       "FROM cxy JOIN uni ux ON cxy.w1 = ux.term " +
       "JOIN uni uy ON cxy.w2 = uy.term CROSS JOIN nu CROSS JOIN nb " +
       "ORDER BY pmi DESC, w1, w2 LIMIT 20"),
    "dedup_minhash" -> {
      // Full replay of the md5-keyed pipeline, generated from the same
      // constants: 32 min-over-shingle md5 hexes per doc (string min ≡
      // numeric min at fixed width), band hash = md5 of the 8 component
      // hexes concatenated, candidates from band-bucket equality only,
      // estimate = matching components / 32 (a dyadic fraction — the
      // rounded double is bit-exact across engines).
      val sigCols = (0 until NumHashes)
        .map(i => s"min(md5('$i:' || t)) AS s$i").mkString(", ")
      val bandSel = (0 until NumBands).map { b =>
        val cat = (BandRows * b until BandRows * (b + 1))
          .map(j => s"s$j").mkString(" || ")
        s"SELECT doc_id, $b AS band_id, md5($cat) AS bh FROM sigs"
      }.mkString(" UNION ALL ")
      val matches = (0 until NumHashes)
        .map(i => s"CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      "WITH tok AS (SELECT DISTINCT doc_id, " +
        s"unnest(list_distinct(${Words.LoweredSql})) AS t " +
        "FROM documents), " +
        s"sigs AS (SELECT doc_id, $sigCols FROM tok GROUP BY doc_id), " +
        s"bands AS ($bandSel), " +
        "cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b " +
        "FROM bands l JOIN bands r ON l.band_id = r.band_id " +
        "AND l.bh = r.bh AND l.doc_id < r.doc_id), " +
        s"m AS (SELECT c.doc_a, c.doc_b, ($matches) AS matches " +
        "FROM cand c JOIN sigs a ON a.doc_id = c.doc_a " +
        "JOIN sigs b ON b.doc_id = c.doc_b) " +
        s"SELECT doc_a, doc_b, round(matches / $NumHashes.0, 6) AS est_jac " +
        s"FROM m WHERE round(matches / $NumHashes.0, 6) >= 0.9 " +
        "ORDER BY doc_a, doc_b"
    },
    "text_wordcount" ->
      ("SELECT token, count(*) AS cnt FROM " +
       s"(SELECT unnest(${Words.LoweredSql}) AS token FROM documents) " +
       "GROUP BY token ORDER BY cnt DESC, token"),
    "text_tfidf" ->
      (s"WITH toks AS (SELECT doc_id, unnest(${Words.LoweredSql}) AS term " +
       "FROM documents), " +
       "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term), " +
       "df AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
       "n AS (SELECT count(*) AS n FROM documents) " +
       "SELECT doc_id, term, round(tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS score " +
       "FROM tf JOIN df USING (term) CROSS JOIN n " +
       "ORDER BY score DESC, doc_id, term LIMIT 100"),
    // BM25 replay: same tf/df/dl aggregates, derived 5-term query set
    // (df DESC, term LIMIT 5), the identical IEEE expression tree per
    // (term, doc) — constants written as (1.2 + 1.0) etc. so both
    // engines fold the same doubles — rounded 6dp once at the end.
    "text_bm25" ->
      (s"WITH $Bm25RankedCte " +
       "SELECT term, rnk, doc_id, score FROM ranked " +
       "WHERE rnk <= 10 ORDER BY term, rnk"),
    // same BM25 ranked prefix + the text_tfidf scorer over the same
    // derived query set; fusion = full-outer USING join, rrf written in
    // the identical coalesce order
    "text_rrf_fusion" ->
      (s"WITH $Bm25RankedCte, " +
       "tsc AS (SELECT q.term, tf.doc_id, " +
       "round(tf.tf * ln((st.n + 1.0) / (q.df + 1.0)), 6) AS score " +
       "FROM tf JOIN q USING (term) CROSS JOIN st), " +
       "t10 AS (SELECT term, doc_id, trnk FROM (SELECT term, doc_id, " +
       "row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id) " +
       "AS trnk FROM tsc) WHERE trnk <= 10), " +
       "b10 AS (SELECT term, doc_id, rnk AS brnk FROM ranked " +
       "WHERE rnk <= 10), " +
       "f AS (SELECT term, doc_id, " +
       "round(coalesce(1.0 / (60 + brnk), 0.0) + " +
       "coalesce(1.0 / (60 + trnk), 0.0), 6) AS rrf " +
       "FROM b10 FULL OUTER JOIN t10 USING (term, doc_id)) " +
       "SELECT term, CAST(rk AS INT) AS rnk, doc_id, rrf FROM (" +
       "SELECT term, doc_id, rrf, row_number() OVER (PARTITION BY term " +
       "ORDER BY rrf DESC, doc_id) AS rk FROM f) " +
       "WHERE rk <= 5 ORDER BY term, rnk"),
    "text_stats" ->
      ("SELECT lang, source, count(*) AS n_docs, " +
       "(200 * sum(n_chars) + count(n_chars)) // (2 * count(n_chars)) " +
       "/ 100.0 AS avg_chars, " +
       "(200 * sum(nt) + count(nt)) // (2 * count(nt)) / 100.0 AS avg_toks " +
       s"FROM (SELECT *, len(${Words.RawSql}) AS nt FROM documents) " +
       "GROUP BY lang, source ORDER BY lang, source"),
    "dedup_exact" ->
      ("SELECT lang, count(DISTINCT lower(trim(text))) AS uniq_docs, " +
       "count(*) AS total_docs FROM documents GROUP BY lang ORDER BY lang")
  )
}
