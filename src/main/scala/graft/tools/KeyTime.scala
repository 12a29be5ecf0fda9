package graft.tools

import graft.GraftSession

/** Repeated warm timings of ONE declared key — the quiet-box confirmation
  * tool the r14 verdict asked for (join_fuzzy_blocked's bench readings
  * spread 1.6–2.7 s across rounds; box contention and staged-build cold
  * starts were both suspects). Runs the key `n` times back-to-back on an
  * otherwise-idle box and prints each wall time, so a spread that
  * reproduces here is the key's own variance, not the suite's.
  *
  * Usage: runMain graft.tools.KeyTime <key> [sfDir] [n]
  */
object KeyTime {
  def main(args: Array[String]): Unit = {
    val key = args.headOption.getOrElse(
      sys.error("usage: KeyTime <key> [sfDir] [n]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val n = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession.local(GraftSession.cpus)
    val fn = graft.SparkEntry.queries.getOrElse(key,
      sys.error(s"unknown key $key"))
    // untimed warm-up: JIT + any staged-artifact build
    fn(spark, sfDir).count()
    val times = (1 to n).map { i =>
      val t0 = System.nanoTime()
      val rows = fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[keytime] $key run $i: $sec%6.2f s  rows=$rows")
      sec
    }
    // lower-middle for even n: size/2 would report the UPPER middle —
    // for n=2 that prints the max labeled as the median
    println(f"[keytime] $key min=${times.min}%.2f median=" +
      f"${times.sorted.apply((times.size - 1) / 2)}%.2f max=${times.max}%.2f " +
      s"over $n warm runs")
    spark.stop()
  }
}
