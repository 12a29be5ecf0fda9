package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.ops.{Dedup, Pipeline}

/** Scale smoke probe for the two heaviest pipelines (`dedup_cluster`,
  * `pipeline_clean_pack`): synthesizes corpora at 1×, 10× and 100× the
  * bench document count in the spec-fixture style (seeded vocab draws
  * with planted single-token-mutation near-dups at a fixed 5% rate, so
  * the near-dup pair density stays per-doc-constant as N grows), runs
  * both queries end-to-end COLD (staging artifact builds included —
  * that is the honest full cost), and checks the two properties the
  * 100 TB claim rests on, per decade:
  *
  *   1. wall time grows ~linearly in N (each 10× step's ratio well
  *      under quadratic);
  *   2. the CC fixpoint's round count stays near-flat (pointer jumping
  *      makes it O(log diameter), and planted dup-chains grow diameter
  *      only logarithmically in N).
  *
  * Not part of the driver contract; run manually, numbers recorded in
  * ROUND4_NOTES.md / ROUND6_NOTES.md. Exit code 1 on a violated bound.
  */
object ScaleProbe {

  /** Retire a probe leg: delete the temp corpus and every staged
    * artifact keyed by its fingerprint (shared by all probe modes and
    * AnnScaleProbe — a forgotten retire leaks per-run gigabytes in tmp,
    * since a deleted corpus's fingerprint can never be re-hit). */
  private[tools] def retireLeg(dir: String, sourceFile: String): Unit = {
    val fp = graft.Tables.sourceFingerprint(s"$dir/$sourceFile")
    graft.Staging.deleteRecursively(java.nio.file.Paths.get(dir))
    graft.Staging.retire(fp)
  }

  /** Deterministic corpus in the documents schema. ~5% of docs are a
    * one-token mutation of a random EARLIER doc (trigram Jaccard ≈
    * (3k-8)/(3k-2) for k tokens — well over the 0.8 pair threshold), so
    * components form chains-of-mutations whose expected diameter grows
    * ~log N. Vocab draws are log-uniform (Zipf-ish) over 2000 words;
    * docs carry enough stopwords for the clean_pack quality stage to
    * keep most of the corpus. */
  def corpus(n: Int, seed: Long): Seq[(Long, String, String, String, Int)] = {
    val rnd = new scala.util.Random(seed)
    val langs = Vector("en", "de", "es", "fr", "zh")
    val texts = new scala.collection.mutable.ArrayBuffer[String](n)
    (0 until n).map { i =>
      val text =
        if (i > 0 && rnd.nextInt(20) == 0) {
          val t = texts(rnd.nextInt(i)).split(" ")
          t(rnd.nextInt(t.length)) = "w" + rnd.nextInt(2000)
          t.mkString(" ")
        } else {
          val len = 15 + rnd.nextInt(45)
          (0 until len).map { j =>
            if (j % 7 == 3) "the" // stopword mass for the quality stage
            else "w" + (math.pow(2000.0, rnd.nextDouble()).toInt - 1).max(0).min(1999)
          }.mkString(" ")
        }
      texts += text
      (i.toLong, text, langs(rnd.nextInt(5)),
        f"src_${rnd.nextInt(20)}%02d", text.length)
    }
  }

  /** Duplicate-heavy variant (`dupheavy` mode): ~20% of docs are EXACT
    * copies of one of 10 fixed hub docs, so copies-per-hub grows linearly
    * with n and the full near-dup pair graph grows QUADRATICALLY per
    * decade (10 hubs × (0.02·n)² edges — ~5·10⁸ at the 500k leg, which no
    * pair-materializing plan survives). This is the corpus shape
    * `graft.dedup.groupExact` exists for: star edges to the per-text rep
    * + a near-dup join over distinct texts keep the CC edge set linear. */
  def corpusDupHeavy(n: Int, seed: Long): Seq[(Long, String, String, String, Int)] = {
    val baseDocs = corpus(n, seed)
    val rnd = new scala.util.Random(seed * 31 + 7)
    baseDocs.map { case row @ (id, _, lang, src, _) =>
      if (id >= 10 && rnd.nextInt(5) == 0) {
        val hubText = baseDocs(rnd.nextInt(10))._2
        (id, hubText, lang, src, hubText.length)
      } else row
    }
  }

  /** Pathological-component variant (`chain` mode): every 50th doc is a
    * single-token mutation of the PREVIOUS chain member, so the pair
    * graph contains ONE component whose diameter grows LINEARLY in n
    * (n/50 members — ~10⁴ at the 500k leg). Chain docs are a fixed 50
    * tokens (one mutation kills ≤ 3 of 48 trigrams → J ≈ 0.88, a pair;
    * TWO mutations kill ≤ 6 → J ≈ 0.78, below 0.8) and every replacement
    * token is unique ("c<i>"), so consecutive members pair but i↔i+2
    * shortcuts do NOT — the planted diameter is real: the worst case for
    * the CC fixpoint's round count. */
  def corpusChain(n: Int, seed: Long): Seq[(Long, String, String, String, Int)] = {
    val base = corpus(n, seed).toArray
    val rnd = new scala.util.Random(seed * 17 + 3)
    var prev: Array[String] =
      Array.tabulate(50)(j => "h" + rnd.nextInt(2000))
    base.indices.foreach { i =>
      if (i % 50 == 0) {
        val t = prev.clone()
        // interior position: an edge mutation would kill fewer grams and
        // only make the pair MORE similar — keep the bound tight instead
        t(1 + rnd.nextInt(t.length - 2)) = "c" + i
        prev = t
        val text = t.mkString(" ")
        val (_, _, lang, src, _) = base(i)
        base(i) = (i.toLong, text, lang, src, text.length)
      }
    }
    base.toSeq
  }

  /** Text-analysis keys for `text` mode — the heaviest of the family
    * (corpus-wide joins / token self-joins). The NLL keys stage their
    * token relations per corpus version, so each leg's first run — the
    * one timed here — is cold and includes the artifact build; leg
    * cleanup must retire those artifacts like the dedup/ANN modes do. */
  private val TextKeys = Seq("text_tfidf", "text_unigram_nll",
    "text_bigram_nll", "text_heavy_hitters")

  /** Synthetic events corpus for `upsert` mode (raw-parquet schema: long
    * nanosecond ts, µs-granular like the driver's data). user_id is drawn
    * from n/10 keys, so the upsert snapshot grows linearly with the
    * stream and each event has ~10 same-key rivals — the honest CDC
    * shape where most upserts REPLACE an existing row. */
  def eventsCorpus(n: Int, seed: Long): Seq[(Long, Long, Long, String, Double, String)] = {
    val rnd = new scala.util.Random(seed)
    val types = Vector("view", "click", "purchase", "signup", "logout")
    val t0 = 1700000000000000000L
    (0 until n).map { i =>
      (i.toLong,
       t0 + rnd.nextLong(86400L * 1000000L) * 1000L,
       rnd.nextInt(math.max(1, n / 10)).toLong,
       types(rnd.nextInt(types.length)),
       rnd.nextInt(1000000) / 100.0,
       s"""{"k":${rnd.nextInt(100)}}""")
    }
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filter(Set("dupheavy", "text", "chain", "upsert"))
      .getOrElse("")
    val dupHeavy = mode == "dupheavy"
    val textMode = mode == "text"
    val chainMode = mode == "chain"
    val upsertMode = mode == "upsert"
    val rest = if (mode.nonEmpty) args.drop(1) else args
    val base = rest.headOption.map(_.toInt).getOrElse(5000)
    val spark = GraftSession.local(GraftSession.cpus)
    // The documented Zipfian-corpus posture (LOSSLESS — identical pair
    // set, see Dedup.ngramPairs): rarest-grams-first prefix indexing.
    // The probe corpus is deliberately Zipf-ish, and at the 500k leg the
    // default lexicographic prefix's hot-gram fan-out (quadratic in gram
    // df) overruns the box's spill volume — this flag IS the scale path
    // under test.
    spark.conf.set("graft.ngram.dfOrderedPrefix", "true")
    // dupheavy mode arms the documented duplicate-heavy posture
    // (LOSSLESS — PipelineSpec asserts label equality): without it the
    // 500k leg's pair graph alone is ~5·10⁸ edges.
    if (dupHeavy) spark.conf.set("graft.dedup.groupExact", "true")
    // Env passthrough for conf-gated postures, so extended decades can be
    // probed under the documented scale defenses without a code edit.
    // The 5M leg measurably NEEDS these: the fixed-2000-word probe vocab
    // makes every gram's df grow linearly with n, so the (lossless) prefix
    // candidate volume grows quadratically — the regime
    // graft.ngram.hotGramCap exists for.
    sys.env.get("GRAFT_HOTGRAM_CAP")
      .foreach(spark.conf.set("graft.ngram.hotGramCap", _))
    import spark.implicits._

    // JVM warm-up on the real sf0.001 corpus so scale-1 doesn't absorb
    // one-time JIT/codegen cost that scale-10 then skips. Staging is
    // bypassed so the FULL compute path (including the df-ordered prefix
    // plan the legs will run) executes — a staged-artifact read would warm
    // only the parquet scan and leave leg 1 paying all the codegen.
    val warmKeys =
      if (textMode) TextKeys
      else if (chainMode) Seq("dedup_cluster")
      else if (upsertMode) Seq("stream_upsert_snapshot")
      else Seq("dedup_cluster", "pipeline_clean_pack",
               "dedup_minhash", "dedup_simhash", "dedup_incremental")
    val stagingWas = sys.props.get("graft.staging")
    sys.props("graft.staging") = "false"
    try warmKeys.foreach { k =>
      SparkEntry.queries(k)(spark, "/root/testdata/sf0.001").count()
    } finally stagingWas match {
      case Some(v) => sys.props("graft.staging") = v
      case None => sys.props -= "graft.staging"
    }

    case class Leg(n: Int, wallCluster: Double, wallPack: Double,
                   wallMinhash: Double, wallSimhash: Double,
                   wallIncr: Double, rounds: Int)
    val mults = if (rest.length > 1) rest.drop(1).map(_.toInt).toSeq
                else Seq(1, 10, 100)

    if (textMode) {
      // Text family: per-leg cold walls for each key, same per-decade gate.
      val legs = mults.map { mult =>
        val n = base * mult
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-textscale-$n").toString
        corpus(n, seed = 7)
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(math.max(4, n / 50000)).write.mode("overwrite")
          .parquet(s"$dir/documents.parquet")
        val walls = TextKeys.map { k =>
          val t0 = System.nanoTime()
          SparkEntry.queries(k)(spark, dir).count()
          k -> (System.nanoTime() - t0) / 1e9
        }.toMap
        println(f"[scale] n=$n%6d " + TextKeys.map(k =>
          f"$k=${walls(k)}%6.1f s").mkString(" "))
        retireLeg(dir, "documents.parquet")
        (n, walls)
      }
      val ok = legs.sliding(2).collect { case Seq((na, a), (nb, b)) =>
        TextKeys.map { k =>
          val r = b(k) / a(k)
          println(f"[scale] $na%d -> $nb%d $k ${r}%.1fx")
          r <= 20
        }.forall(identity)
      }.forall(identity)
      println(s"[scale] ${if (ok) "PASS" else "FAIL"}")
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }
    if (upsertMode) {
      // CDC upsert sink: per-leg cold wall for stream_upsert_snapshot —
      // the 4-file split staging, 4 micro-batch merge rounds, and the
      // final snapshot read are ALL in the timed path (each leg uses a
      // fresh corpus fingerprint, so nothing is cached across legs).
      // Work per leg is O(n) split staging + 4 merges each O(snapshot +
      // batch) = O(n), so the per-decade gate is the usual ≤20×.
      // Self-check: snapshot rows == distinct user_ids.
      val legs = mults.map { mult =>
        val n = base * mult
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-upsertscale-$n").toString
        eventsCorpus(n, seed = 7)
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(math.max(4, n / 250000)).write.mode("overwrite")
          .parquet(s"$dir/events.parquet")
        val t0 = System.nanoTime()
        val snapRows =
          SparkEntry.queries("stream_upsert_snapshot")(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val users = spark.read.parquet(s"$dir/events.parquet")
          .select("user_id").distinct().count()
        require(snapRows == users,
          s"upsert snapshot rows $snapRows != distinct users $users")
        println(f"[scale] n=$n%7d stream_upsert_snapshot=$wall%6.1f s " +
          f"(snapshot=$snapRows rows)")
        // retires the split stream copy with every other artifact
        // keyed by the corpus fingerprint
        retireLeg(dir, "events.parquet")
        (n, wall)
      }
      val ok = legs.sliding(2).collect { case Seq((na, a), (nb, b)) =>
        val r = b / a
        println(f"[scale] $na%d -> $nb%d stream_upsert_snapshot ${r}%.1fx")
        r <= 20
      }.forall(identity)
      println(s"[scale] ${if (ok) "PASS" else "FAIL"}")
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }
    if (chainMode) {
      // Planted pathological chain component: per leg, the staged pair
      // list is built first and timed on its own, so the dedup_cluster
      // wall that follows is the CC FIXPOINT (plus the label staging),
      // not the PPJoin. The per-decade gate applies to the fixpoint wall.
      case class CLeg(n: Int, wPairs: Double, wCc: Double, rounds: Int)
      def time(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime()
        val r = f
        ((System.nanoTime() - t0) / 1e9, r)
      }
      val legs = mults.map { mult =>
        val n = base * mult
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-chainscale-$n").toString
        corpusChain(n, seed = 7)
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(math.max(4, n / 50000)).write.mode("overwrite")
          .parquet(s"$dir/documents.parquet")
        val (wPairs, pairs) = time(Dedup.ngramPairs(spark, dir).count())
        val (wCc, labels) =
          time(SparkEntry.queries("dedup_cluster")(spark, dir).count())
        val rounds = Pipeline.lastCcRounds.get()
        println(f"[scale] n=$n%7d pairs=$wPairs%6.1f s ($pairs pairs) " +
          f"cc=$wCc%6.1f s ($rounds rounds) labels=$labels")
        retireLeg(dir, "documents.parquet")
        CLeg(n, wPairs, wCc, rounds)
      }
      val ok = legs.sliding(2).collect { case Seq(a, b) =>
        val r = b.wCc / a.wCc
        println(f"[scale] ${a.n}%d -> ${b.n}%d: pairs ${b.wPairs / a.wPairs}%.1fx " +
          f"cc ${r}%.1fx cc_rounds ${a.rounds} -> ${b.rounds}")
        r <= 20
      }.forall(identity)
      println(s"[scale] ${if (ok) "PASS" else "FAIL"}")
      spark.stop()
      if (!ok) sys.exit(1)
      return
    }
    val legs = mults.map { mult =>
      val n = base * mult
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-scale-$n").toString
      (if (dupHeavy) corpusDupHeavy(n, seed = 7) else corpus(n, seed = 7))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(math.max(4, n / 50000)).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val wc = time(SparkEntry.queries("dedup_cluster")(spark, dir).count())
      val rounds = Pipeline.lastCcRounds.get()
      val wp = time(SparkEntry.queries("pipeline_clean_pack")(spark, dir).count())
      // The other near-dup families — band-LSH self-joins with their own
      // hot-bucket exposure — measured on the same corpus and gated by
      // the same per-decade ratio. In dupheavy mode their declared plain
      // OUTPUT is inherently quadratic (every copy pairs with every
      // copy), so the mode measures the GROUPED report variant
      // (graft.dedup.groupedReport — pairs over distinct texts +
      // multiplicities, the production report shape for a crawl corpus;
      // GroupedReportSpec proves it expands losslessly).
      if (dupHeavy) spark.conf.set("graft.dedup.groupedReport", "true")
      val wm = time(SparkEntry.queries("dedup_minhash")(spark, dir).count())
      val ws = time(SparkEntry.queries("dedup_simhash")(spark, dir).count())
      // dupheavy: grouped ngram_jaccard rides the wi slot (the plain
      // incremental key's declared output is batch × copies — quadratic
      // on this corpus by the same argument as the pair reports).
      // Default mode: incremental ingest (newest 10% vs older corpus,
      // asymmetric PPJoin over the already-staged gram relation) — the
      // ingest-cost scaling claim, measured like the rest.
      val wi = time(SparkEntry.queries(
        if (dupHeavy) "dedup_ngram_jaccard" else "dedup_incremental")(
        spark, dir).count())
      if (dupHeavy) spark.conf.unset("graft.dedup.groupedReport")
      val labels =
        if (dupHeavy) Seq("dedup_minhash(grp)", "dedup_simhash(grp)",
          "dedup_ngram_jaccard(grp)")
        else Seq("dedup_minhash", "dedup_simhash", "dedup_incremental")
      println(f"[scale] n=$n%6d dedup_cluster=$wc%6.1f s (cc_rounds=$rounds) " +
        f"pipeline_clean_pack=$wp%6.1f s ${labels(0)}=$wm%6.1f s " +
        f"${labels(1)}=$ws%6.1f s ${labels(2)}=$wi%6.1f s")
      retireLeg(dir, "documents.parquet")
      Leg(n, wc, wp, wm, ws, wi, rounds)
    }

    // Per-decade check: linear would be 10x each step; allow 2x slack
    // for constant-overhead shifts and log-factor round growth.
    // Quadratic (100x per decade) must be unambiguously out. Rounds may
    // grow by at most +3 across the whole probed range (O(log diameter)).
    val decades = legs.sliding(2).collect { case Seq(a, b) =>
      val rc = b.wallCluster / a.wallCluster
      val rp = b.wallPack / a.wallPack
      val rm = b.wallMinhash / a.wallMinhash
      val rs = b.wallSimhash / a.wallSimhash
      val ri = b.wallIncr / a.wallIncr
      println(f"[scale] ${a.n}%d -> ${b.n}%d: dedup_cluster ${rc}%.1fx  " +
        f"pipeline_clean_pack ${rp}%.1fx  dedup_minhash ${rm}%.1fx  " +
        f"dedup_simhash ${rs}%.1fx  dedup_incremental ${ri}%.1fx  " +
        f"cc_rounds ${a.rounds} -> ${b.rounds}")
      rc <= 20 && rp <= 20 && rm <= 20 && rs <= 20 && ri <= 20
    }.toSeq
    val roundsOk = legs.last.rounds <= legs.head.rounds + 3
    val ok = decades.forall(identity) && roundsOk
    println(s"[scale] ${if (ok) "PASS" else "FAIL"}")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
