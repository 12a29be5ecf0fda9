package graft.ops

import graft.{D, Tables}
import graft.QueryDefs.Q
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data text-analysis operators over `documents` (SURVEY.md §2.10
  * north-star extensions): language identification, quality scoring, token
  * counting, and document fingerprinting.
  *
  * Scale shape: every query is a narrow map over documents followed by a
  * small groupBy — the per-document work (tokenize, intersect, fold) is
  * all built-in higher-order functions running map-side inside whole-stage
  * codegen; only (key, partial-agg) pairs cross the shuffle. No UDFs, no
  * driver-side collection, so each op scales linearly with corpus bytes.
  * Tokens, word n-grams and in-row value counts come from [[Words]].
  */
/** The PII class patterns + redaction chain, shared by the
  * `text_pii_redact` query and its spec (which plants REAL body PII the
  * synthetic corpus lacks and asserts detection + removal — the query's
  * own oracle only ever exercises the deterministic footer). All three
  * patterns are lookaround-free so Java regex (Spark) and RE2 (the
  * DuckDB oracle) read them identically; the chain order
  * email → phone → ip is part of the contract (an earlier class's token
  * must not feed a later pattern). */
private[graft] object PiiRedact {
  val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phonePat = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  val ipPat = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  def nMatches(c: Column, pat: String): Column =
    size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")

  def redact(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      c, emailPat, "<EMAIL>"),
      phonePat, "<PHONE>"), ipPat, "<IP>")
}

object TextQuality {
  import Words.valueCounts

  /** Fixed per-language keyword lists. The synthetic corpus shares one
    * vocabulary across langs, so these grade the MECHANICS (deterministic
    * intersect-score + argmax with a fixed tie-break), not real-world
    * accuracy; swap in real stopword lists for production use.
    */
  private val langWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "scan", "filter", "sort"),
    "de" -> Seq("der", "die", "das", "und", "agg"),
    "fr" -> Seq("le", "la", "et", "join", "merge"),
    "es" -> Seq("el", "la", "y", "group", "window"))

  private def lit_arr(xs: Seq[String]): Column = array(xs.map(lit): _*)

  /** Fixed AFINN-style sentiment lexicon (word → integer valence in
    * [-4, 4]), the r15 verdict's #1 missing capability (the
    * reference-category sentiment-analysis op, PAPERS.md:7). Embedded and
    * shared VERBATIM by the Spark CASE chain and the DuckDB VALUES CTE
    * ([[sentimentLexValues]]) so the two sides cannot drift. The tail
    * entries (crash/fail/error/good/bad) are absent from the synthetic
    * corpus vocabulary on purpose — they exercise the no-match path the
    * way a real lexicon (AFINN ships 2477 words) mostly misses any given
    * document. */
  private val sentimentLexicon: Seq[(String, Int)] = Seq(
    "fast" -> 3, "value" -> 2, "big" -> 1, "merge" -> 1, "join" -> 1,
    "slow" -> -3, "dup" -> -2, "small" -> -1, "filter" -> -1,
    "crash" -> -4, "fail" -> -3, "error" -> -2, "good" -> 3, "bad" -> -3)

  /** Valence of one token: a single flat CASE chain (codegen'd, no join,
    * no UDF) — at 14 entries the branch chain beats a broadcast token
    * join because it never leaves the row. A production-sized lexicon
    * (thousands of words) would flip to the broadcast-join form the
    * oracle uses; both shapes are verified equal by SentimentSpec. */
  private[graft] def sentimentValence(t: Column): Column =
    sentimentLexicon.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (w, v)) => acc.when(t === w, lit(v.toLong))
    }.otherwise(lit(0L))

  /** Per-document sentiment score: sum of token valences, folded map-side
    * over the split — one pass, zero per-token shuffle rows. */
  private[graft] def sentimentScore: Column =
    aggregate(Words.lowered, lit(0L),
      (acc, t) => acc + sentimentValence(t))

  /** The lexicon as a DuckDB VALUES list, generated from the same Seq. */
  private def sentimentLexValues: String =
    sentimentLexicon.map { case (w, v) => s"('$w', $v)" }.mkString(", ")

  /** Distinct lower-cased whitespace tokens. */
  private val toks: Column = array_distinct(Words.lowered)

  /** Polynomial rolling hash of a token (fold over char codes, mod 1e9+7). */
  private def tokenHash(t: Column): Column =
    aggregate(transform(Words.chars(t), c => ascii(c).cast("long")),
      lit(0L), (a, b) => (a * 31 + b) % 1000000007L)

  /** Weighted quality score over (text, n_chars) columns, rounded to 2dp —
    * length window + avg word length + stopword ratio + symbol ratio.
    * Shared by `text_quality` and the end-to-end `pipeline_clean_pack`
    * (ops/Pipeline), so the two can never drift apart. All comparisons are
    * on exact integer-derived doubles; parity with the DuckDB replica is
    * proven by text_quality's green oracle row. */
  def qualityScore: Column = {
    val nToks = size(Words.lowered)
    val stopRatio = size(array_intersect(toks,
      lit_arr(Seq("the", "a", "and", "of", "to")))).cast("double") / nToks
    val symRatio =
      length(regexp_replace(lower(col("text")), "[a-z0-9 ]", ""))
        .cast("double") / col("n_chars")
    val avgWordLen = col("n_chars").cast("double") / nToks
    round(
      when(col("n_chars").between(50, 5000), lit(0.4)).otherwise(lit(0.0)) +
        when(avgWordLen.between(3.0, 10.0), lit(0.3)).otherwise(lit(0.0)) +
        when(stopRatio > 0.01, lit(0.2)).otherwise(lit(0.0)) +
        when(symRatio < 0.1, lit(0.1)).otherwise(lit(0.0)), 2)
  }

  /** [[qualityScore]]'s DuckDB twin for document `d`, before rounding:
    * the oracles of `text_quality` and of the clean_pack pipelines. */
  private[ops] val QualitySql =
    "(CASE WHEN d.n_chars BETWEEN 50 AND 5000 THEN 0.4 ELSE 0.0 END) + " +
    s"(CASE WHEN d.n_chars * 1.0 / len(${Words.loweredSql("d.text")}) BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END) + " +
    s"(CASE WHEN len(list_intersect(list_distinct(${Words.loweredSql("d.text")}), " +
    s"['the','a','and','of','to'])) * 1.0 / len(${Words.loweredSql("d.text")}) > 0.01 THEN 0.2 ELSE 0.0 END) + " +
    "(CASE WHEN len(regexp_replace(lower(d.text), '[a-z0-9 ]', '', 'g')) * 1.0 / d.n_chars < 0.1 THEN 0.1 ELSE 0.0 END)"

  /** RAKE stopword set — the fixed filler vocabulary across the corpus's
    * langs (the langWords posture: grades the MECHANICS — segmentation,
    * degree/frequency scoring, ordered fold — not real-world accuracy;
    * swap a real per-language list in production). Shared verbatim with
    * the oracle's IN list via [[rakeStopsSql]]. */
  private val RakeStops = Seq("a", "the", "and", "of", "to", "in",
    "der", "die", "das", "und", "le", "la", "et", "el", "y")
  private def rakeStopsSql: String =
    RakeStops.map(w => s"'$w'").mkString(", ")

  /** Per-document repetition signals: most frequent word and its mass,
    * repeated-word mass, most frequent adjacent bigram's mass. Every
    * output depends on one document only, so everything is counted
    * inside the row ([[Words.valueCounts]]) — one scan, no shuffle before the
    * output sort. Ties on the top word break to the smallest word:
    * the (−count, word) minimum over the runs, the order a
    * `row_number() over (c desc, w)` window picks by. Bigrams are the
    * shared word window's ([[Words.grams]]). All
    * fractions are ratios of exact integer counts (bit-identical double
    * division in both engines, same posture as win_distribution)
    * rounded 6dp. Single-word and NULL-text documents have no bigram
    * and drop out — identically in the oracle (its bigram CTE is empty
    * for them). */
  private[graft] def repetition(docs: DataFrame): DataFrame = {
    val ws = col("ws")
    docs.select(col("doc_id"), Words.lowered.as("ws"))
      .where(size(ws) >= 2)
      .select(col("doc_id"), size(ws).cast("long").as("n_words"),
        valueCounts(ws).as("wc"),
        array_max(transform(valueCounts(Words.grams(ws, 2)), _("c"))).as("bc"))
      .select(col("doc_id"), col("n_words"), col("bc"),
        size(col("wc")).as("n_distinct"),
        array_min(transform(col("wc"),
          x => struct((-x("c")).as("nc"), x("v").as("v")))).as("top"))
      .select(col("doc_id"), col("n_words"), col("top")("v").as("top_word"),
        D.r6(-col("top")("nc") / col("n_words")).as("top_word_frac"),
        D.r6(lit(1.0) - col("n_distinct") / col("n_words"))
          .as("dup_word_frac"),
        D.r6(col("bc") / (col("n_words") - lit(1)))
          .as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Per-document token entropy in NATS (−Σ p·ln p), with token and
    * vocabulary counts: a near-zero entropy flags template/repetition
    * spam that fraction thresholds can miss (the classic diversity
    * filter in LLM-corpus quality stacks). Nats because Spark `log` ≡
    * DuckDB `ln` is the proven cross-engine pair (text_unigram_nll /
    * text_bigram_nll, green at 6dp since r6). Determinism: the fold runs
    * over the value counts in ascending token order (≡ the oracle's
    * list(... ORDER BY w)), so both engines add the identical doubles in
    * the identical order; p = c/n is exact-int division in both. Counted
    * inside the row like [[repetition]]: one scan, no shuffle. NULL-text
    * documents drop out; single-word and empty-string ones stay (one
    * token, entropy 0). */
  private[graft] def entropy(docs: DataFrame): DataFrame = {
    def p(x: Column) = x("c").cast("double") / col("n_toks")
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), Words.lowered.as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_toks"),
        valueCounts(col("ws")).as("wc"))
      .select(col("doc_id"), col("n_toks"),
        size(col("wc")).cast("long").as("n_distinct"),
        round(aggregate(col("wc"), lit(0.0),
          (acc, x) => acc - p(x) * log(p(x))), 6).as("ent"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    // RAKE keyword extraction (round 19) — the document-keywords member
    // of the text-analysis family (collocations finds corpus-level PMI
    // bigrams; this extracts stopword-delimited candidate PHRASES and
    // ranks them by the classic degree/frequency word scores). Pipeline:
    // tokenize with positions → phrase id = running stopword count per
    // doc (ONE per-doc window — doc-bounded partitions) → per-word
    // corpus stats (freq, degree = Σ phrase length over occurrences —
    // two-phase hash aggregates) → word score = degree/freq → phrase
    // score folds member scores IN POSITION ORDER (the text_entropy
    // ordered-fold posture, so the IEEE sum is engine-identical) →
    // global top-20 = TakeOrderedAndProject. Scale: token-scale maps,
    // word-keyed shuffles, nothing corpus-quadratic.
    "text_keywords_rake" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // The phrase-member relation feeds BOTH the word-stats aggregate
      // and the score rejoin — a double reference of the full tokenize +
      // two-window pipeline under static planning (the q21 rescan
      // class; r19 review). It is a pure function of the corpus, so it
      // stages per corpus version like the sorted-trigram relation the
      // dedup family shares.
      val members = graft.Staging.materialize(
        s, Tables.path(dir, "documents"), "rake_members_v1") {
        val toks = Tables.table(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(Words.lowered))
          .withColumnRenamed("col", "w")
        val wDoc = Window.partitionBy("doc_id").orderBy("pos")
        toks
          .withColumn("is_stop", col("w").isin(RakeStops: _*))
          .withColumn("pid", sum(col("is_stop").cast("long")).over(wDoc))
          .where(!col("is_stop"))
          .withColumn("plen",
            count(lit(1)).over(Window.partitionBy("doc_id", "pid")))
          .drop("is_stop")
      }
      val wscore = members.groupBy("w")
        .agg(count(lit(1)).as("freq"), sum("plen").as("degree"))
        .select(col("w"),
          (col("degree").cast("double") / col("freq").cast("double"))
            .as("wscore"))
      members.join(wscore, "w")
        .groupBy(col("doc_id"), col("pid"))
        .agg(array_sort(collect_list(
          struct(col("pos"), col("w"), col("wscore")))).as("ms"))
        .select(
          array_join(transform(col("ms"), m => m.getField("w")), " ")
            .as("phrase"),
          aggregate(col("ms"), lit(0.0),
            (acc, m) => acc + m.getField("wscore")).as("score"))
        .groupBy("phrase")
        .agg(count(lit(1)).as("n"), round(max(col("score")), 6).as("score"))
        .orderBy(col("score").desc, col("phrase"))
        .limit(20)
    }),

    // Per-source heavy hitters: top-5 tokens by count (token asc
    // tie-break) — the vocabulary/stopword audit every corpus pipeline
    // runs before filtering. Two-phase (source, token) count first, then
    // the row_number window runs over the SMALL aggregated relation
    // (|vocab|·|sources| rows, not corpus-sized) — the same
    // agg-before-window shape that keeps win_row_number_topk scale-safe.
    "text_heavy_hitters" -> ((s, dir) => {
      val cnt = Tables.table(s, dir, "documents")
        .select(col("source"),
          explode(Words.lowered).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("cnt").desc, col("tok"))
      cnt.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 5)
        .select("source", "rnk", "tok", "cnt")
        .orderBy("source", "rnk")
    }),

    // Language-ID: score = |distinct tokens ∩ lang keyword list|, predicted
    // = argmax with fixed tie-break order (de, en, es, else fr — mirrored
    // exactly in the oracle CASE). Output is the lang × predicted confusion
    // matrix, which stays small no matter the corpus size.
    "text_langid" -> ((s, dir) => {
      val scored = Tables.table(s, dir, "documents")
        .select(col("lang") +:
          langWords.map { case (l, ws) =>
            size(array_intersect(toks, lit_arr(ws))).as(s"s_$l")
          }: _*)
      val g = greatest(col("s_en"), col("s_de"), col("s_fr"), col("s_es"))
      scored
        .withColumn("predicted",
          when(g === col("s_de"), "de")
            .when(g === col("s_en"), "en")
            .when(g === col("s_es"), "es")
            .otherwise("fr"))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }),

    // Sentiment analysis (r15 verdict item 1): lexicon-based polarity over
    // documents — per-doc valence sum (map-side CASE fold, no explode
    // shuffle, no UDF), then a per-(lang, source) polarity rollup with the
    // most-positive/most-negative doc per group (max_by/min_by on a
    // (score, doc_id) struct — unique ordering keys, so ties cannot make
    // the pick nondeterministic). All-integer output: counts, valence
    // sums, and doc ids hash bitwise across engines. Scale: one corpus
    // pass, one small-key shuffle — the rollup stays |langs|·|sources|
    // rows no matter the corpus size.
    "text_sentiment" -> ((s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("lang"), col("source"), col("doc_id"),
          sentimentScore.as("score"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_pos"),
          sum(when(col("score") < 0, 1L).otherwise(0L)).as("n_neg"),
          sum(col("score")).as("sum_score"),
          max_by(col("doc_id"), struct(col("score"), -col("doc_id")))
            .as("top_pos_doc"),
          min_by(col("doc_id"), struct(col("score"), col("doc_id")))
            .as("top_neg_doc"))
        .orderBy("lang", "source")),

    // Quality scoring: length window, average word length, stopword ratio,
    // symbol ratio → weighted score → low/medium/high buckets per source.
    "text_quality" -> ((s, dir) =>
      Tables.table(s, dir, "documents")
        .withColumn("q", qualityScore)
        .withColumn("bucket",
          when(col("q") >= 0.8, "high")
            .when(col("q") >= 0.5, "medium")
            .otherwise("low"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n"), D.r2(avg(col("q"))).as("avg_q"))
        .orderBy("source", "bucket")),

    // Token counting: whitespace tokens vs a BPE-ish regex lex
    // ([a-z]+ | digit runs | single symbols), aggregated per lang.
    "text_tokens" -> ((s, dir) => {
      val ws = size(Words.raw)
      val re = size(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
      Tables.table(s, dir, "documents")
        .select(col("lang"), ws.as("ws_toks"), re.as("re_toks"))
        .groupBy("lang")
        .agg(sum("ws_toks").as("sum_ws"),
          sum("re_toks").as("sum_re"),
          D.r2(avg("ws_toks")).as("avg_ws"))
        .orderBy("lang")
    }),

    // Document fingerprint: nested polynomial rolling hash — per-token char
    // fold, then a fold over token hashes. One deterministic BIGINT per
    // document; byte-identical re-runs make it usable as a cheap content
    // key for incremental dedup at any scale.
    "text_fingerprint" -> ((s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          aggregate(
            transform(Words.lowered, tokenHash(_)),
            lit(0L), (a, b) => (a * 131 + b) % 1000000007L).as("fp"))
        .orderBy("doc_id")),

    // URL parsing / domain extraction — the web-crawl pipeline step
    // (per-domain counts drive URL-level dedup, domain blocklists, and
    // crawl politeness budgets). The corpus carries no URL column, so
    // each doc's provenance URL derives deterministically from
    // (source, doc_id); the op under test is `parse_url` (native
    // expression, codegen) splitting HOST / PATH / QUERY param, then a
    // per-domain rollup. Map-side parse + one two-phase agg. The source
    // label is sanitized to hostname-safe chars BEFORE URL construction
    // (r14, ADVICE fix): parse_url rides java.net.URI, which returns
    // NULL host for labels carrying '_'/uppercase/etc., while the DuckDB
    // oracle concatenates strings unconditionally — sanitizing on BOTH
    // sides removes the silent data-dependent divergence if source
    // naming ever changes.
    // URL canonicalization dedup (round 19) — the web-corpus ingest step
    // ahead of any content dedup: the same page arrives under case-mixed
    // hosts, explicit default ports, trailing slashes, tracking params
    // (utm_*) and fragments, and a crawler that doesn't canonicalize
    // stores every variant. Raw URLs are synthesized DETERMINISTICALLY
    // from doc attributes with all five mess classes (the text_url_domain
    // construction, messied); canonical form = scheme + lowercased
    // parse_url HOST (port drops with it) + PATH with the trailing slash
    // stripped, query+fragment dropped as tracking. Groups by canonical
    // URL with the collapse factor (distinct raw forms). Pure map work +
    // one hash aggregate; the oracle CONSTRUCTS the canonical form
    // directly from the same attributes (DuckDB has no parse_url), so
    // the gate proves Spark's parse-based canonicalization recovers the
    // constructive ground truth exactly.
    "dedup_url_canonical" -> ((s, dir) => {
      val hostSan = coalesce(nullif(regexp_replace(
        regexp_replace(lower(col("source")), "[^a-z0-9-]", "-"),
        "^-+|-+$", ""), lit("")), lit("x"))
      val host = concat(hostSan, lit(".example.com"))
      val raw = concat(lit("https://"),
        when(col("doc_id") % 2 === 0, host).otherwise(upper(host)),
        when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
        lit("/docs/"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0, lit("?utm_source=feed"))
          .otherwise(lit("?utm_campaign=x")),
        when(col("doc_id") % 5 === 0, lit("#sec2")).otherwise(lit("")))
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), raw.as("url"))
        .select(col("doc_id"), col("url"),
          concat(lit("https://"),
            lower(parse_url(col("url"), lit("HOST"))),
            regexp_replace(parse_url(col("url"), lit("PATH")), "/+$", ""))
            .as("canon"))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_raw_forms"),
          min(col("doc_id")).as("rep_doc"))
        .orderBy("canon")
    }),

    "text_url_domain" -> ((s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("https://"),
            // DNS labels may not start/end with '-' and may not be
            // empty — trim edge hyphens after the char sanitize and
            // fall back to 'x', else java.net.URI still returns a NULL
            // host for labels like '_web' → '-web' (r14 review)
            coalesce(nullif(regexp_replace(
              regexp_replace(lower(col("source")), "[^a-z0-9-]", "-"),
              "^-+|-+$", ""), lit("")), lit("x")),
            lit(".example.com/docs/"),
            col("doc_id") % 50, lit("?id="), col("doc_id")).as("url"))
        .select(col("doc_id"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY"), lit("id")).cast("long")
            .as("qid"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("path")).as("n_paths"),
          sum(col("qid")).as("qid_sum"))
        .orderBy("host")),

    // Text canonicalization — the normalize-before-dedup step every
    // ingest pipeline runs ahead of exact/near dedup: lowercase, collapse
    // every non-alphanumeric run to one space, trim, then emit the md5
    // content key + length + head. Pure per-row map work (no shuffle
    // before the output sort), codegen'd built-ins only, so it scales as
    // a scan. The single `[^a-z0-9]+` class handles punctuation strip
    // and whitespace collapse in one pass and reads identically in Java
    // regex (Spark) and RE2 (the DuckDB oracle).
    "text_normalize" -> ((s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
            .as("norm"))
        .select(col("doc_id"),
          md5(col("norm")).as("norm_md5"),
          length(col("norm")).cast("long").as("norm_len"),
          substring(col("norm"), 1, 40).as("head"))
        .orderBy("doc_id")),

    // Intra-document repetition signals — the Gopher-class repetition
    // filters (top-n-gram mass, duplicate-token mass) every LLM corpus
    // pipeline scores before training, adapted to this corpus's flat
    // word streams (no line structure exists to measure dup-line
    // fractions on). See [[repetition]].
    "text_repetition" -> ((s, dir) =>
      repetition(Tables.table(s, dir, "documents"))),

    // Token-distribution Shannon entropy per document — the
    // information-theoretic twin of text_repetition's count-fraction
    // signals. See [[entropy]].
    "text_entropy" -> ((s, dir) =>
      entropy(Tables.table(s, dir, "documents"))),

    // PII detection + redaction (round 16) — the scrub step every LLM
    // training-data pipeline runs before a corpus ships (emails, phone
    // numbers, IPv4 addresses → class tokens). The corpus carries no PII
    // column, so each doc gets a deterministic provenance footer built
    // from (doc_id, source) — same construction-as-part-of-the-query
    // posture as text_url_domain's URLs and sink_vacuum's orphan formula
    // — and the ops under test are the generic class regexes over the
    // combined text: per-class match counts (regexp_extract_all), a
    // chained global regexp_replace redaction (email → phone → ip; the
    // chain order is part of the contract since an earlier class's token
    // must not feed a later pattern), a residual rescan of the REDACTED
    // text (the self-audit every scrubber emits — nonzero residuals mean
    // a pattern gap), and a redaction-integrity checksum: per-doc
    // md5-prefix of the redacted text parsed to a bigint (the proven
    // conv ↔ '0x' idiom, 10 hex chars = 40 bits so a per-group sum has
    // ~2^23 docs of headroom) summed per group — byte-identical redacted
    // output is proven without shipping a single redacted row. All
    // patterns are lookaround-free so Java regex (Spark) and RE2 (the
    // DuckDB oracle) read them identically. Scale shape: pure map-side
    // regex work inside whole-stage codegen, one (lang, source) rollup —
    // scales as a scan, like text_normalize.
    "text_pii_redact" -> ((s, dir) => {
      import PiiRedact._
      val full = concat(lower(col("text")),
        lit(" contact user"), col("doc_id"), lit("@"),
        regexp_replace(lower(col("source")), "[^a-z0-9]+", "-"),
        lit(".example.com tel +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" host 10."), col("doc_id") % 200, lit("."),
        col("doc_id") % 100, lit("."), col("doc_id") % 50)
      val red = redact(col("full"))
      Tables.table(s, dir, "documents")
        .select(col("lang"), col("source"), full.as("full"))
        .withColumn("red", red)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(nMatches(col("full"), emailPat)).as("n_email"),
          sum(nMatches(col("full"), phonePat)).as("n_phone"),
          sum(nMatches(col("full"), ipPat)).as("n_ip"),
          sum(nMatches(col("red"), emailPat) +
            nMatches(col("red"), phonePat) +
            nMatches(col("red"), ipPat)).as("n_residual"),
          sum(conv(substring(md5(col("red").cast("binary")), 1, 10),
            16, 10).cast("long")).as("redact_sum"))
        .orderBy("lang", "source")
    })
  )

  val oracles: Map[String, String] = Map(
    // Same segmentation (running stopword count), same degree/freq
    // stats, same position-ordered fold (list_reduce with a prepended
    // 0.0 init ≡ Spark's aggregate left fold).
    "text_keywords_rake" ->
      ("WITH tok AS (SELECT doc_id, " +
       Words.positionedSql("w", "pos") + " FROM documents), " +
       s"seg AS (SELECT doc_id, pos, w, w IN ($rakeStopsSql) AS is_stop, " +
       s"sum(CASE WHEN w IN ($rakeStopsSql) THEN 1 ELSE 0 END) " +
       "OVER (PARTITION BY doc_id ORDER BY pos) AS pid FROM tok), " +
       "mem AS (SELECT doc_id, pid, pos, w, " +
       "count(*) OVER (PARTITION BY doc_id, pid) AS plen " +
       "FROM seg WHERE NOT is_stop), " +
       "wsc AS (SELECT w, CAST(sum(plen) AS DOUBLE) / " +
       "CAST(count(*) AS DOUBLE) AS wscore FROM mem GROUP BY w), " +
       "ph AS (SELECT m.doc_id, m.pid, " +
       "list(m.w ORDER BY m.pos) AS words, " +
       "list(wsc.wscore ORDER BY m.pos) AS scs " +
       "FROM mem m JOIN wsc ON wsc.w = m.w GROUP BY 1, 2), " +
       "ps AS (SELECT array_to_string(words, ' ') AS phrase, " +
       "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), scs), " +
       "(a, e) -> a + e) AS score FROM ph) " +
       "SELECT phrase, count(*) AS n, round(max(score), 6) AS score " +
       "FROM ps GROUP BY phrase ORDER BY score DESC, phrase LIMIT 20"),
    // Same footer construction, same three RE2-safe patterns, same
    // redaction chain order; counts CAST to BIGINT (DuckDB sum → HUGEINT)
    // and the checksum rides the proven '0x' hex-parse idiom.
    "text_pii_redact" ->
      ("WITH f AS (SELECT lang, source, lower(text) || ' contact user' || " +
       "CAST(doc_id AS VARCHAR) || '@' || " +
       "regexp_replace(lower(source), '[^a-z0-9]+', '-', 'g') || " +
       "'.example.com tel +1-555-' || " +
       "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
       "' host 10.' || CAST(doc_id % 200 AS VARCHAR) || '.' || " +
       "CAST(doc_id % 100 AS VARCHAR) || '.' || " +
       "CAST(doc_id % 50 AS VARCHAR) AS ftxt FROM documents), " +
       "r AS (SELECT lang, source, ftxt, " +
       "regexp_replace(regexp_replace(regexp_replace(ftxt, " +
       "'[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), " +
       "'\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'), " +
       "'([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g') AS red FROM f) " +
       "SELECT lang, source, count(*) AS n_docs, " +
       "CAST(sum(len(regexp_extract_all(ftxt, " +
       "'[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))) AS BIGINT) AS n_email, " +
       "CAST(sum(len(regexp_extract_all(ftxt, " +
       "'\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}'))) AS BIGINT) AS n_phone, " +
       "CAST(sum(len(regexp_extract_all(ftxt, " +
       "'([0-9]{1,3}\\.){3}[0-9]{1,3}'))) AS BIGINT) AS n_ip, " +
       "CAST(sum(len(regexp_extract_all(red, " +
       "'[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) + " +
       "len(regexp_extract_all(red, " +
       "'\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) + " +
       "len(regexp_extract_all(red, " +
       "'([0-9]{1,3}\\.){3}[0-9]{1,3}'))) AS BIGINT) AS n_residual, " +
       "CAST(sum(CAST(concat('0x', substr(md5(red), 1, 10)) AS BIGINT)) " +
       "AS BIGINT) AS redact_sum " +
       "FROM r GROUP BY lang, source ORDER BY lang, source"),
    "text_sentiment" ->
      // Independent formulation on purpose: the oracle scores docs through
      // the unnest + lexicon-join shape (the production form for a large
      // lexicon) and picks top docs with row_number windows, against the
      // Spark side's CASE fold + max_by/min_by. Same lexicon Seq feeds
      // both. Sums cast to BIGINT (DuckDB widens to HUGEINT).
      (s"WITH lex(word, valence) AS (VALUES $sentimentLexValues), " +
       "tok AS (SELECT doc_id, lang, source, " +
       s"unnest(${Words.LoweredSql}) AS word FROM documents), " +
       "scored AS (SELECT t.doc_id, t.lang, t.source, " +
       "CAST(coalesce(sum(l.valence), 0) AS BIGINT) AS score " +
       "FROM tok t LEFT JOIN lex l ON t.word = l.word " +
       "GROUP BY t.doc_id, t.lang, t.source), " +
       "ranked AS (SELECT lang, source, doc_id, score, " +
       "row_number() OVER (PARTITION BY lang, source " +
       "ORDER BY score DESC, doc_id) AS rp, " +
       "row_number() OVER (PARTITION BY lang, source " +
       "ORDER BY score ASC, doc_id) AS rn FROM scored) " +
       "SELECT lang, source, count(*) AS n_docs, " +
       "CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, " +
       "CAST(sum(CASE WHEN score < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg, " +
       "CAST(sum(score) AS BIGINT) AS sum_score, " +
       "max(CASE WHEN rp = 1 THEN doc_id END) AS top_pos_doc, " +
       "max(CASE WHEN rn = 1 THEN doc_id END) AS top_neg_doc " +
       "FROM ranked GROUP BY lang, source ORDER BY lang, source"),
    // The canonical form constructed directly from the same attributes
    // (ground truth — Spark must RECOVER it by parsing the messy raw);
    // raw forms rebuilt verbatim for the collapse-factor count.
    "dedup_url_canonical" -> {
      val hostSql = "coalesce(nullif(regexp_replace(" +
        "regexp_replace(lower(source), '[^a-z0-9-]', '-', 'g'), " +
        "'^-+|-+$', '', 'g'), ''), 'x') || '.example.com'"
      ("WITH u AS (SELECT doc_id, " +
       s"'https://' || $hostSql || '/docs/' || " +
       "CAST(doc_id % 50 AS VARCHAR) AS canon, " +
       "'https://' || " +
       s"(CASE WHEN doc_id % 2 = 0 THEN $hostSql " +
       s"ELSE upper($hostSql) END) || " +
       "(CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END) || " +
       "'/docs/' || CAST(doc_id % 50 AS VARCHAR) || " +
       "(CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) || " +
       "(CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed' " +
       "ELSE '?utm_campaign=x' END) || " +
       "(CASE WHEN doc_id % 5 = 0 THEN '#sec2' ELSE '' END) AS url " +
       "FROM documents) " +
       "SELECT canon, count(*) AS n_docs, " +
       "count(DISTINCT url) AS n_raw_forms, " +
       "CAST(min(doc_id) AS BIGINT) AS rep_doc " +
       "FROM u GROUP BY canon ORDER BY canon")
    },
    "text_url_domain" ->
      // DuckDB has no parse_url; the oracle rebuilds the three parts from
      // the same deterministic construction, with the SAME hostname
      // sanitization as the Spark side.
      ("WITH u AS (SELECT doc_id, " +
       "coalesce(nullif(regexp_replace(" +
       "regexp_replace(lower(source), '[^a-z0-9-]', '-', 'g'), " +
       "'^-+|-+$', '', 'g'), ''), 'x') " +
       "|| '.example.com' AS host, " +
       "'/docs/' || CAST(doc_id % 50 AS VARCHAR) AS path, " +
       "doc_id AS qid FROM documents) " +
       "SELECT host, count(*) AS n_docs, " +
       "count(DISTINCT path) AS n_paths, " +
       "CAST(sum(qid) AS BIGINT) AS qid_sum " +
       "FROM u GROUP BY host ORDER BY host"),
    "text_heavy_hitters" ->
      (s"WITH c AS (SELECT source, unnest(${Words.LoweredSql}) AS tok FROM documents), " +
        "g AS (SELECT source, tok, count(*) AS cnt FROM c GROUP BY 1, 2), " +
        "r AS (SELECT source, tok, cnt, row_number() OVER " +
        "(PARTITION BY source ORDER BY cnt DESC, tok) AS rnk FROM g) " +
        "SELECT source, rnk, tok, cnt FROM r WHERE rnk <= 5 ORDER BY source, rnk"),
    "text_langid" ->
      (s"WITH toks AS (SELECT lang, list_distinct(${Words.LoweredSql}) AS t FROM documents), " +
        "scored AS (SELECT lang, " +
        "len(list_intersect(t, ['the','a','scan','filter','sort'])) AS s_en, " +
        "len(list_intersect(t, ['der','die','das','und','agg'])) AS s_de, " +
        "len(list_intersect(t, ['le','la','et','join','merge'])) AS s_fr, " +
        "len(list_intersect(t, ['el','la','y','group','window'])) AS s_es FROM toks), " +
        "arg AS (SELECT lang, CASE greatest(s_en, s_de, s_fr, s_es) " +
        "WHEN s_de THEN 'de' WHEN s_en THEN 'en' WHEN s_es THEN 'es' ELSE 'fr' END AS predicted " +
        "FROM scored) " +
        "SELECT lang, predicted, count(*) AS n FROM arg GROUP BY lang, predicted " +
        "ORDER BY lang, predicted"),
    "text_quality" ->
      (s"WITH q AS (SELECT d.source, round($QualitySql, 2) AS q " +
        "FROM documents d) " +
        "SELECT source, CASE WHEN q >= 0.8 THEN 'high' WHEN q >= 0.5 THEN 'medium' " +
        "ELSE 'low' END AS bucket, count(*) AS n, round(avg(q), 2) AS avg_q " +
        "FROM q GROUP BY 1, 2 ORDER BY 1, 2"),
    "text_tokens" ->
      // CAST: DuckDB sum(INTEGER) yields HUGEINT, which its parquet writer
      // emits as double — byte-mismatching Spark's int64 despite equal
      // values. Cast every integer sum to BIGINT (diagnosed in VERDICT r2).
      (s"SELECT lang, CAST(sum(len(${Words.RawSql})) AS BIGINT) AS sum_ws, " +
        "CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS sum_re, " +
        s"round(avg(len(${Words.RawSql})), 2) AS avg_ws " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    // Entropy fold replayed in the same token order (list ORDER BY w ≡
    // array_sort) with the same exact-int p = c/n and the proven ln pair.
    "text_entropy" ->
      (s"WITH tok AS (SELECT doc_id, unnest(${Words.LoweredSql}) AS w FROM documents), " +
        "wc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w), " +
        "d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks, " +
        "CAST(count(*) AS BIGINT) AS n_distinct, " +
        "list(CAST(c AS DOUBLE) ORDER BY w) AS cs FROM wc GROUP BY doc_id) " +
        "SELECT doc_id, n_toks, n_distinct, " +
        "round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        "list_transform(cs, c -> -(c / n_toks) * ln(c / n_toks))), " +
        "(a, b) -> a + b), 6) AS ent FROM d ORDER BY doc_id"),
    "text_normalize" ->
      ("WITH n AS (SELECT doc_id, " +
       "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm " +
       "FROM documents) " +
       "SELECT doc_id, md5(norm) AS norm_md5, " +
       "CAST(length(norm) AS BIGINT) AS norm_len, " +
       "substring(norm, 1, 40) AS head FROM n ORDER BY doc_id"),
    "text_fingerprint" ->
      ("SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(${Words.LoweredSql}, " +
        "t -> list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(${Words.charsSql("t")}, c -> CAST(ascii(c) AS BIGINT))), " +
        "(a, b) -> (a * 31 + b) % 1000000007))), " +
        "(a, b) -> (a * 131 + b) % 1000000007) AS fp FROM documents ORDER BY doc_id"),
    // count(*)/count(DISTINCT) are BIGINT in DuckDB (no HUGEINT hazard);
    // `w || ' ' || lead(w)` propagates the NULL lead at document end, so
    // each doc keeps its len−1 adjacent pairs — the Spark side's zipped
    // bigrams.
    "text_repetition" ->
      ("WITH toks AS (SELECT doc_id, " +
        Words.positionedSql("w", "pos") + " FROM documents), " +
        "tot AS (SELECT doc_id, count(*) AS n_words, " +
        "count(DISTINCT w) AS n_distinct FROM toks GROUP BY 1), " +
        "wc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2), " +
        "mx AS (SELECT doc_id, max(c) AS mc FROM wc GROUP BY 1), " +
        "topw AS (SELECT wc.doc_id, min(wc.w) AS top_word, min(mx.mc) AS mc " +
        "FROM wc JOIN mx ON wc.doc_id = mx.doc_id AND wc.c = mx.mc GROUP BY 1), " +
        "bi AS (SELECT doc_id, w || ' ' || " +
        "lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg FROM toks), " +
        "bc AS (SELECT doc_id, bg, count(*) AS c FROM bi " +
        "WHERE bg IS NOT NULL GROUP BY 1, 2), " +
        "bmx AS (SELECT doc_id, max(c) AS bc FROM bc GROUP BY 1) " +
        "SELECT t.doc_id, t.n_words, p.top_word, " +
        "round(p.mc / CAST(t.n_words AS DOUBLE), 6) AS top_word_frac, " +
        "round(1.0 - t.n_distinct / CAST(t.n_words AS DOUBLE), 6) AS dup_word_frac, " +
        "round(b.bc / CAST(t.n_words - 1 AS DOUBLE), 6) AS top_bigram_frac " +
        "FROM tot t JOIN topw p ON t.doc_id = p.doc_id " +
        "JOIN bmx b ON t.doc_id = b.doc_id ORDER BY t.doc_id")
  )
}
