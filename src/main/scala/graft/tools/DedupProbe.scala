package graft.tools

import graft.{GraftSession, SparkEntry}

/** Scratch harness: stage-by-stage timing for the two heaviest dedup keys
  * so tuning targets the real cost, not a guess. */
object DedupProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)

    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // warm JIT + staging
    t("minhash-cold")(SparkEntry.queries("dedup_minhash")(spark, sfDir).count())
    for (i <- 1 to 2)
      t(s"minhash-warm$i")(println("  rows=" +
        SparkEntry.queries("dedup_minhash")(spark, sfDir).count()))
    t("ngram-cold")(SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir).count())
    for (i <- 1 to 2)
      t(s"ngram-warm$i")(println("  rows=" +
        SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir).count()))
    spark.stop()
  }
}
