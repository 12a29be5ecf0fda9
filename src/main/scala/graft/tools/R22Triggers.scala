package graft.tools

import graft.GraftSession
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.streaming.StreamingQueryListener

/** R22 optimization-round probe: per streaming key, how many streaming
  * QUERIES start and how many micro-batches (triggers) each runs during
  * one invocation. The drain floor is per-trigger lifecycle cost
  * (~350 ms planning + state commit, r20/r21 DrainProfile), so total
  * drain cost = floor × n_triggers — if any drain runs more triggers
  * than its semantics require, consolidating the source input is the
  * remaining lever (VERDICT r21 "next round" item 1). Not part of the
  * contract.
  *
  * Usage: runMain graft.tools.R22Triggers [sfDir] [key1,key2,...]
  */
object R22Triggers {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val keys = args.lift(1).map(_.split(",").toSeq).getOrElse(
      graft.SparkEntry.queries.keys.filter(_.startsWith("stream_")).toSeq.sorted)
    val spark = GraftSession.local(GraftSession.cpus)

    // (queryRunId, batchId, numInputRows, trigger wall ms) per progress event
    val events = new ConcurrentLinkedQueue[(String, Long, Long, Long)]()
    val starts = new ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        starts.add(e.runId.toString)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        events.add((e.progress.runId.toString, e.progress.batchId,
          e.progress.numInputRows,
          e.progress.durationMs.getOrDefault("triggerExecution", -1L)))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })

    keys.foreach { key =>
      graft.SparkEntry.queries(key)(spark, sfDir).count() // warm (staged builds)
      Thread.sleep(300); events.clear(); starts.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(key)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let listener events flush
      val byRun = events.toArray(Array.empty[(String, Long, Long, Long)])
        .groupBy(_._1).toSeq.sortBy(_._2.map(_._2).min)
      val nq = starts.size
      println(f"[trig] $key%-28s wall=$wall%6.2f s queries=$nq " +
        s"batches=${byRun.map(_._2.length).mkString("+")}")
      byRun.zipWithIndex.foreach { case ((_, evs), qi) =>
        evs.sortBy(_._2).foreach { case (_, bid, rows, ms) =>
          println(f"[trig]   q$qi batch=$bid rows=$rows%7d triggerMs=$ms")
        }
      }
    }
    spark.stop()
  }
}
