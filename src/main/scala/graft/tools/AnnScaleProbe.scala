package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.functions._

/** Scale smoke probe for the embedding-similarity family
  * (`embed_cosine_topk` exact baseline + the three bucketed ANN paths):
  * synthesizes corpora at 1×, 10× and 100× the test embedding count in
  * the embeddings schema (dim-64 float vectors, every element a seeded
  * xxhash64 draw so the corpus is identical under any partitioning),
  * runs each query end-to-end COLD per decade (PQ index build — Lloyd
  * pass + encode — included; that is the honest full cost), and gates
  * each 10× step's wall ratio at ≤ 20 (linear would be 10×; quadratic's
  * 100× must be unambiguously out).
  *
  * Corpus-sized rankings (the exact scan, kNN, the PQ ADC scan) run the
  * sharded two-stage top-k BY DEFAULT (see Vector.rankPerProbe) — the
  * probe measures the declared plan as-is. Without the sharding, every
  * probe's candidate set funnels into a single window task, the first
  * thing to break on a real cluster. AnnSpec asserts the two shapes are
  * bit-identical.
  *
  * Not part of the driver contract; run manually, numbers recorded in
  * ROUND6_NOTES.md. Exit code 1 on a violated bound.
  */
object AnnScaleProbe {

  private val Keys =
    Seq("embed_cosine_topk", "embed_ann_ivf", "embed_ann_lsh", "embed_ann_pq",
      "embed_ann_incremental")

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0).toInt else 5000
    val spark = GraftSession.local(GraftSession.cpus)

    // JVM warm-up on the real sf0.001 corpus, staging bypassed so the
    // full compute path (index build included) executes and leg 1 doesn't
    // absorb one-time JIT/codegen cost the later legs then skip.
    val stagingWas = sys.props.get("graft.staging")
    sys.props("graft.staging") = "false"
    try Keys.foreach { k =>
      SparkEntry.queries(k)(spark, "/root/testdata/sf0.001").count()
    } finally stagingWas match {
      case Some(v) => sys.props("graft.staging") = v
      case None => sys.props -= "graft.staging"
    }

    case class Leg(n: Int, walls: Map[String, Double],
                   searches: Map[String, Double])
    val mults = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
                else Seq(1, 10, 100)
    val legs = mults.map { mult =>
      val n = base * mult
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-annscale-$n").toString
      // Deterministic corpus: element i of vector `id` is a fixed
      // function of (id, i) — identical bytes under any partitioning.
      spark.range(n).select(
        col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)), i =>
          ((pmod(xxhash64(col("id"), i), lit(2000001)) - lit(1000000)) / 1e6)
            .cast("float")).as("embedding"),
        pmod(col("id"), lit(10)).cast("int").as("label"))
        .coalesce(math.max(4, n / 50000)).write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      def time(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      // First run per key is COLD (index build — Lloyd, encode, cells,
      // sigs — included: the honest full cost); the second reads the
      // staged index, isolating SEARCH cost — the per-query price once
      // the index exists, which is what build-vs-search gating needs.
      val walls = Keys.map { k =>
        k -> time(SparkEntry.queries(k)(spark, dir).count())
      }.toMap
      val searches = Keys.map { k =>
        k -> time(SparkEntry.queries(k)(spark, dir).count())
      }.toMap
      println(f"[annscale] n=$n%7d cold   " + Keys.map(k =>
        f"$k=${walls(k)}%6.1f s").mkString(" "))
      println(f"[annscale] n=$n%7d search " + Keys.map(k =>
        f"$k=${searches(k)}%6.1f s").mkString(" "))
      ScaleProbe.retireLeg(dir, "embeddings.parquet")
      Leg(n, walls, searches)
    }

    val ok = legs.sliding(2).collect { case Seq(a, b) =>
      Keys.map { k =>
        val r = b.walls(k) / a.walls(k)
        val rs = b.searches(k) / a.searches(k)
        println(f"[annscale] ${a.n}%d -> ${b.n}%d $k cold ${r}%.1fx search ${rs}%.1fx")
        r <= 20 && rs <= 20
      }.forall(identity)
    }.forall(identity)
    println(s"[annscale] ${if (ok) "PASS" else "FAIL"}")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
