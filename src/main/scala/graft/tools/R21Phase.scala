package graft.tools

import graft.GraftSession

/** R21 probe: split one key's warm wall time into plan-construction /
  * analysis+optimization (QueryExecution.tracker phases) / execution,
  * to see whether a small-SF key's cost is driver planning or real
  * work. Usage: runMain graft.tools.R21Phase <key1,key2,...> [sfDir] [n]
  */
object R21Phase {
  def main(args: Array[String]): Unit = {
    val keys = args.headOption.getOrElse(
      sys.error("usage: R21Phase <key,...> [sfDir] [n]")).split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val n = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession.local(GraftSession.cpus)
    keys.foreach { key =>
      val fn = graft.SparkEntry.queries(key)
      fn(spark, sfDir).count() // warm-up: JIT + staged builds
      (1 to n).foreach { i =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val rows = df.count()
        val t2 = System.nanoTime()
        val phases = df.queryExecution.tracker.phases
          .map { case (p, s) => f"$p=${s.durationMs}ms" }.mkString(" ")
        println(f"[r21phase] $key run $i: construct=${(t1 - t0) / 1e6}%.0fms " +
          f"action=${(t2 - t1) / 1e6}%.0fms rows=$rows  phases: $phases")
      }
    }
    spark.stop()
  }
}
