package graft

/** Local replica of the driver's t1 smoke gate: entry(spark) must return
  * at least one row on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val rows = SparkEntry.entry(spark).collect()
    println(s"[smoke] entry returned ${rows.length} rows")
    rows.take(3).foreach(r => println(s"[smoke] $r"))
    assert(rows.nonEmpty, "entry returned 0 rows")
    spark.stop()
  }
}
