package graft.tools

import graft.{GraftSession, SparkEntry, Staging, Tables}
import graft.ops.{Dedup, Pipeline}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale harness: re-measures the "linear in N" claims the heavy
  * keys rest on. A corpus SHAPE writes one leg per multiplier into a
  * fresh temp dir; on each leg every key runs cold (staged-artifact
  * builds included, the honest full cost), then warm (reading what the
  * cold run staged, the per-query price once the artifacts exist), and
  * each of those walls must stay within 20× of the previous leg's
  * (linear is 10× a decade; quadratic's 100× must be unambiguously out).
  * The leg's tables and every artifact keyed by them are retired before
  * the next leg is written. Before the first leg every key runs once on
  * the sf0.001 testdata with staging bypassed, so leg 1 does not absorb
  * the JVM's one-time JIT and codegen cost.
  *
  * Shapes: `docs`, `chain`, `events` and `vectors` are seeded synthetic
  * corpora of n = base × mult rows (default base 5000); `replica` is the
  * sf tables at mult× ([[writeReplica]]; default sfDir the sf0.1
  * testdata). Every shape runs the declared plans.
  *
  * Checks beyond the wall gate: `dedup_cluster`'s CC round count may
  * grow by at most 3 over the probed range (O(log diameter); reported
  * but not gated on `chain`, whose planted component's diameter grows
  * linearly), and `stream_upsert_snapshot` must return one row per
  * distinct user of the leg's events.
  *
  * Keys are declared keys plus one probe-local key, `ngram_pairs` (the
  * staged PPJoin pair list, so a `dedup_cluster` listed after it times
  * the CC fixpoint alone).
  *
  * Not part of the driver contract; run by hand. Exit code 1 on a
  * violated bound.
  * Usage: runMain graft.tools.ScaleProbe <shape> <key,...> [base|sfDir] [mult...]
  */
object ScaleProbe {

  private val Shapes = Seq("docs", "chain", "events", "vectors", "replica")

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

  /** Pathological-component variant (`chain`): every 50th doc is a
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

  /** Synthetic events corpus (`events`; raw-parquet schema: long
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

  /** Embeddings corpus (`vectors`): dim-64 float vectors whose element i
    * of vector `id` is a seeded xxhash64 draw of (id, i), so the corpus
    * is identical under any partitioning. */
  def vectorsCorpus(spark: SparkSession, n: Int): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        ((pmod(xxhash64(col("id"), i), lit(2000001)) - lit(1000000)) / 1e6)
          .cast("float")).as("embedding"),
      pmod(col("id"), lit(10)).cast("int").as("label"))

  /** The sf tables at m×: the drift-safe scale-up (identical value
    * distributions, m× rows, unique ids; fresh random data would change
    * the very densities the scale postures react to). Replica k offsets
    * each table's ids by k × the table's offset:
    *  - events: `event_id`, `user_id` (+k·10⁸);
    *  - customer: `c_custkey` (+k·10⁷), `c_name` regenerated from the
    *    key (the name carries the entity id the ER keys block on; copied
    *    names would fabricate cross-replica matches);
    *  - orders: `o_orderkey` (+k·10⁸) and `o_custkey` (+k·10⁷), so every
    *    order references its own replica's customer;
    *  - documents: `doc_id` (+k·10⁷), text + 14 salt tokens shared by
    *    every doc of replica k: within a replica the shared salt grams
    *    only raise a pair's Jaccard, so every near-dup pair survives,
    *    while a doc's copies in two replicas cap at ~98/(98+32) ≈ 0.75
    *    (a 100-token doc), below the 0.8 threshold — the pair graph is m
    *    disjoint copies;
    *  - embeddings: `vec_id` (+k·10⁶);
    *  - every other table is copied once. */
  private[graft] def writeReplica(spark: SparkSession, sfDir: String,
                                  dir: String, m: Int): Unit = {
    def rep(t: String, off: Long, ids: String*): DataFrame =
      ids.foldLeft(Tables.table(spark, sfDir, t)
          .withColumn("k", explode(sequence(lit(0), lit(m - 1)))))(
        (d, c) => d.withColumn(c, col(c) + col("k") * off))
    val salt = concat_ws(" ", (0 until 14).map(j =>
      concat(lit("z"), col("k"), lit("w" + j))): _*)
    val replicas = Map(
      "events" -> rep("events", 100000000L, "event_id", "user_id"),
      "customer" -> rep("customer", 10000000L, "c_custkey").withColumn("c_name",
        concat(lit("Customer#"), lpad(col("c_custkey").cast("string"), 9, "0"))),
      "orders" -> rep("orders", 100000000L, "o_orderkey")
        .withColumn("o_custkey", col("o_custkey") + col("k") * 10000000L),
      "documents" -> rep("documents", 10000000L, "doc_id")
        .withColumn("text", concat(col("text"), lit(" "), salt)),
      "embeddings" -> rep("embeddings", 1000000L, "vec_id"))
    new java.io.File(sfDir).list().filter(_.endsWith(".parquet")).sorted
      .map(_.stripSuffix(".parquet")).foreach { t =>
        replicas.get(t).fold(Tables.table(spark, sfDir, t))(_.drop("k"))
          .repartition(4).write.parquet(Tables.path(dir, t))
      }
  }

  /** The key runner of a leg's corpus in `dir`: declared keys plus the
    * probe-local `ngram_pairs` (see the object doc). */
  private def runner(spark: SparkSession, dir: String): String => DataFrame = {
    case "ngram_pairs" => Dedup.ngramPairs(spark, dir)
    case k => SparkEntry.queries(k)(spark, dir)
  }

  /** Delete a leg's corpus and every staged artifact keyed by its tables'
    * fingerprints (taken before the delete): a deleted corpus's
    * fingerprint can never be re-hit, so a forgotten retire leaks its
    * artifacts (a 500k-doc leg's trigram relation is ~1 GB). */
  private def retireLeg(dir: String): Unit = {
    val fps = new java.io.File(dir).list().toSeq.filter(_.endsWith(".parquet"))
      .map(t => Tables.sourceFingerprint(s"$dir/$t"))
    Staging.deleteRecursively(Paths.get(dir))
    fps.foreach(Staging.retire)
  }

  private def timed(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Shapes.contains(args(0)),
      s"usage: ScaleProbe <${Shapes.mkString("|")}> <key,...> " +
        "[base|sfDir] [mult...]")
    val shape = args(0)
    val keys = args(1).split(",").toSeq
    val unknown = keys.filterNot(k =>
      SparkEntry.queries.contains(k) || k == "ngram_pairs")
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")
    val mults = if (args.length > 3) args.drop(3).map(_.toInt).toSeq
                else Seq(1, 10, 100)
    val spark = GraftSession.local(GraftSession.cpus)
    import spark.implicits._
    val write: (String, Int) => Unit = if (shape == "replica") {
      val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
      (dir, m) => writeReplica(spark, sfDir, dir, m)
    } else {
      val base = args.lift(2).map(_.toInt).getOrElse(5000)
      def docs(rows: Seq[(Long, String, String, String, Int)]) =
        rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      (dir, mult) => {
        val n = base * mult
        val (table, df) = shape match {
          case "docs" => ("documents", docs(corpus(n, seed = 7)))
          case "chain" => ("documents", docs(corpusChain(n, seed = 7)))
          case "events" => ("events", eventsCorpus(n, seed = 7)
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
          case "vectors" => ("embeddings", vectorsCorpus(spark, n))
        }
        df.coalesce(math.max(4, n / 50000)).write.parquet(Tables.path(dir, table))
      }
    }

    val stagingWas = sys.props.get("graft.staging")
    sys.props("graft.staging") = "false"
    try {
      val warm = runner(spark, "/root/testdata/sf0.001")
      keys.foreach(k => warm(k).count())
    } finally stagingWas match {
      case Some(v) => sys.props("graft.staging") = v
      case None => sys.props -= "graft.staging"
    }

    case class Leg(mult: Int, walls: Seq[(String, Double)], rounds: Option[Int])
    val legs = mults.map { mult =>
      val dir = Files.createTempDirectory(s"graft-scale-$shape-${mult}x").toString
      try {
        write(dir, mult)
        val run = runner(spark, dir)
        var rounds = Option.empty[Int]
        val walls = keys.flatMap { k =>
          val (cold, rows) = timed(run(k).count())
          if (k == "dedup_cluster") rounds = Some(Pipeline.lastCcRounds.get())
          if (k == "stream_upsert_snapshot") {
            val users = spark.read.parquet(Tables.path(dir, "events"))
              .select("user_id").distinct().count()
            require(rows == users,
              s"upsert snapshot rows $rows != distinct users $users")
          }
          val (warm, _) = timed(run(k).count())
          println(f"[scale] $shape ${mult}x $k cold=$cold%6.1f s " +
            f"warm=$warm%6.1f s rows=$rows" +
            (if (k == "dedup_cluster") s" cc_rounds=${rounds.get}" else ""))
          Seq(s"$k cold" -> cold, s"$k warm" -> warm)
        }
        Leg(mult, walls, rounds)
      } finally retireLeg(dir)
    }

    val wallsOk = legs.zip(legs.drop(1)).flatMap { case (a, b) =>
      a.walls.zip(b.walls).map { case ((k, wa), (_, wb)) =>
        println(f"[scale] ${a.mult}x -> ${b.mult}x $k ${wb / wa}%.1fx")
        wb / wa <= 20
      }
    }.forall(identity)
    val rounds = legs.flatMap(_.rounds)
    if (rounds.nonEmpty)
      println(s"[scale] cc_rounds ${rounds.mkString(" -> ")}")
    val roundsOk = shape == "chain" || rounds.isEmpty || rounds.last <= rounds.head + 3
    val ok = wallsOk && roundsOk
    println(s"[scale] ${if (ok) "PASS" else "FAIL"}")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
