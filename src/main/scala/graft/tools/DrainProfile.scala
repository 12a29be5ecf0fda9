package graft.tools

import graft.{GraftSession, SparkEntry}

/** Scratch harness: per-micro-batch durationMs breakdown for one streaming
  * key, to locate the drain's fixed-cost floor. Not part of the contract. */
object DrainProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val key = args.lift(1).getOrElse("stream_tumbling")
    val spark = GraftSession.local(GraftSession.cpus)
    SparkEntry.queries(key)(spark, sfDir).count() // warm
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        println(s"[prof] started ${e.id}")
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        println(s"[prof] batch=${e.progress.batchId} rows=${e.progress.numInputRows} " +
          s"durations=${e.progress.durationMs}")
        // state-store cost split inside addBatch (r18 verdict item 6):
        // updates vs removal vs COMMIT (provider snapshot/maintenance).
        e.progress.stateOperators.foreach { so =>
          println(s"[prof]   state op=${so.operatorName} rows=${so.numRowsTotal} " +
            s"updated=${so.numRowsUpdated} updMs=${so.allUpdatesTimeMs} " +
            s"rmMs=${so.allRemovalsTimeMs} commitMs=${so.commitTimeMs} " +
            s"memUsed=${so.memoryUsedBytes}")
        }
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        println(s"[prof] terminated")
    })
    for (_ <- 1 to 2) {
      val t0 = System.nanoTime()
      SparkEntry.queries(key)(spark, sfDir).count()
      println(f"[prof] $key wall ${(System.nanoTime() - t0) / 1e9}%.2f s")
      Thread.sleep(500) // let listener events flush
    }
    spark.stop()
  }
}
