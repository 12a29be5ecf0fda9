package graft.tools

import graft.{GraftSession, SparkEntry}
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.jdk.CollectionConverters._

/** Per-key timing probe. For each key of a comma-separated list it
  * prints the cold first call's wall time (JIT plus any staged-artifact
  * build), then `n` warm runs back-to-back, each split the way
  * `perfbench/Runner.scala` splits a call:
  *   - construct: building the DataFrame, eager driver jobs included;
  *   - plan: `df.groupBy().count()` planned to its executed plan;
  *   - exec: running that count;
  *   - the `QueryPlanningTracker` phases (analysis, optimization,
  *     planning) of the count plan that actually ran.
  * A run that starts streaming queries (a drain runs while the DataFrame
  * is constructed) also prints how many queries started, each query's
  * micro-batch count, and per micro-batch its input rows, `durationMs`
  * split and state-operator stats: a drain costs its per-trigger floor
  * times its trigger count, so a drain running more triggers than its
  * semantics need shows here.
  * Run it on an otherwise-idle box, so a spread that reproduces here is
  * the key's own variance, not the suite's.
  *
  * Usage: runMain graft.tools.KeyTime <key1,key2,...> [sfDir] [n]
  */
object KeyTime {

  /** Streaming queries started and micro-batches completed since the
    * last [[clear]]. Start events reach listeners synchronously, progress
    * events through the async listener bus. */
  private final class StreamLog extends StreamingQueryListener {
    import StreamingQueryListener._
    private val starts = new ConcurrentLinkedQueue[UUID]()
    private val batches = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = starts.add(e.runId)
    override def onQueryProgress(e: QueryProgressEvent): Unit = batches.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def clear(): Unit = { starts.clear(); batches.clear() }

    /** Print one run's streaming record (nothing for a batch key). */
    def report(tag: String): Unit = if (!starts.isEmpty) {
      Thread.sleep(500) // let the run's progress events flush
      val byQuery = starts.asScala.toSeq.map(id =>
        batches.asScala.toSeq.filter(_.runId == id).sortBy(_.batchId))
      println(s"[keytime] $tag: queries=${byQuery.size} " +
        s"batches=${byQuery.map(_.size).mkString("+")}")
      for ((qs, qi) <- byQuery.zipWithIndex; p <- qs) {
        println(s"[keytime]   q$qi batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs}")
        p.stateOperators.foreach { so =>
          println(s"[keytime]     state op=${so.operatorName} " +
            s"rows=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
            s"updMs=${so.allUpdatesTimeMs} rmMs=${so.allRemovalsTimeMs} " +
            s"commitMs=${so.commitTimeMs} memUsed=${so.memoryUsedBytes}")
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val keys = args.headOption.getOrElse(
      sys.error("usage: KeyTime <key,...> [sfDir] [n]")).split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val n = args.lift(2).map(_.toInt).getOrElse(3)
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")
    val spark = GraftSession.local(GraftSession.cpus)
    val streams = new StreamLog
    spark.streams.addListener(streams)
    def ms(a: Long, b: Long): String = f"${(b - a) / 1e6}%.0fms"
    keys.foreach { key =>
      val fn = SparkEntry.queries(key)
      streams.clear()
      val c0 = System.nanoTime()
      fn(spark, sfDir).count()
      println(f"[keytime] $key cold: ${(System.nanoTime() - c0) / 1e9}%6.2f s")
      streams.report(s"$key cold")
      val times = (1 to n).map { i =>
        streams.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val ds = df.groupBy().count()
        ds.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val rows = ds.collect().head.getLong(0)
        val t3 = System.nanoTime()
        // read after collect: the tracker of the QueryExecution that ran
        val tracked = ds.queryExecution.tracker.phases
        val phases = Seq("analysis", "optimization", "planning").map(p =>
          s"$p=${tracked.get(p).map(_.durationMs).getOrElse(0L)}ms")
        val sec = (t3 - t0) / 1e9
        println(f"[keytime] $key run $i: $sec%6.2f s  construct=${ms(t0, t1)} " +
          s"plan=${ms(t1, t2)} exec=${ms(t2, t3)} rows=$rows  " +
          phases.mkString(" "))
        streams.report(s"$key run $i")
        sec
      }
      // lower-middle for even n: size/2 would report the UPPER middle —
      // for n=2 that prints the max labeled as the median
      println(f"[keytime] $key min=${times.min}%.2f median=" +
        f"${times.sorted.apply((times.size - 1) / 2)}%.2f max=${times.max}%.2f " +
        s"over $n warm runs")
    }
    spark.stop()
  }
}
