package graft

/** Plan capture: print the formatted physical plan for the named
  * declared queries (or all). Used to check the scale checklist — filters
  * pushed to the scan, small sides broadcast, whole-stage codegen spans,
  * no stray shuffles. `--run` executes each query first, so the printed
  * plan is the FINAL adaptive plan (AQE exchange reuse, runtime join
  * demotions) instead of the initial one. Per-subtree codegen sizes are
  * checked by PlanAuditSpec's sweep test.
  * Usage: `sbt "runMain graft.Explain <sfDir> [name ...] [--run]"`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val operands = args.filterNot(_.startsWith("--"))
    val run = args.contains("--run")
    val sfDir = operands.headOption.getOrElse("/root/testdata/sf0.01")
    // Draining streaming keys are excluded from the explain-all default:
    // invoking one RUNS a full AvailableNow drain and the returned
    // DataFrame is just the memory-sink table, so the printed plan would
    // be a meaningless LocalTableScan bought at full execution cost. Name
    // one explicitly to override. Staging is bypassed so plans show the
    // full computation subtrees instead of staged-file scans.
    sys.props("graft.staging") = "false"
    val names = if (operands.length > 1) operands.drop(1).toSeq
                else (SparkEntry.queries.keySet --
                  graft.streaming.Streams.drainKeys --
                  graft.ops.Pipeline.loopKeys).toSeq.sorted
    val spark = GraftSession.local(4)
    names.foreach { n =>
      println(s"\n########## $n ##########")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        // collect, not count: count() plans and runs a NEW
        // QueryExecution, so this one would print its initial plan
        if (run) df.collect()
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch {
        case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
