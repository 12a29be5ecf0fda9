package graft.tools

import graft.GraftSession
import graft.streaming.Streams.{publishVersion, upsertLatest, upsertMerge, writeBucketedSnapshot}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong

/** Measures the CDC upsert's scale claim instead of asserting it from the
  * plan alone: one merge round of a FIXED-size batch into snapshots of
  * growing size, comparing the bucketed full-outer-join merge (snapshot
  * side bucket-aligned, no exchange) against the union+groupBy merge it
  * replaced. The decisive metric is SHUFFLE BYTES per round — the join
  * merge's shuffle should stay ~constant (batch-proportional) while the
  * union merge's grows with the snapshot — because at 100 TB shuffle, not
  * wall-clock on a warm 32-core box, is what kills a merge.
  *
  * Second axis (r10): version-WRITE bytes under per-bucket incremental
  * publication. A cluster-scale snapshot (modeled with 256 buckets) absorbs
  * a small batch by rewriting only the touched buckets and hardlinking the
  * rest forward — new-file bytes per version must stay ~constant as the
  * snapshot grows, while the full-rewrite write grows linearly.
  *
  * Scratch tool, not part of the driver contract.
  * Usage: runMain graft.tools.UpsertProbe [sizes...]  (default 100000 1000000 4000000)
  */
object UpsertProbe {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toLong).toSeq
                else Seq(100000L, 1000000L, 4000000L)
    val batchUsers = 10000L
    val spark = GraftSession.local(GraftSession.cpus)
    import spark.implicits._

    // shuffle accounting: sum of per-stage shuffle WRITE bytes (every
    // exchange writes once, so write bytes count each shuffle exactly once)
    val shuffleBytes = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    // listenerBus is private[spark]; the public drain is a short sleep —
    // stage-completed events land well within it on a local master
    def measured(work: => Unit): (Double, Long) = {
      Thread.sleep(300); shuffleBytes.set(0)
      val t0 = System.nanoTime()
      work
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      (sec, shuffleBytes.get())
    }

    /** synthetic latest-per-user frame: user ids [0, n), one row each */
    def users(n: Long, tsBase: Long): DataFrame =
      spark.range(n).select(col("id").as("user_id"),
        timestamp_micros(lit(tsBase) + col("id")).as("ts"),
        (col("id") * 7 + 1).as("event_id"),
        lit("view").as("event_type"), rand(42).as("value"))

    for (n <- sizes) {
      val snapDf = users(n, 1700000000000000L)
      // batch touches a subset of existing users with NEWER (ts, event_id)
      val batch = users(batchUsers, 1800000000000000L)
        .withColumn("event_id", col("event_id") + lit(1000000000L))

      // ---- bucketed join merge ----
      val root = java.nio.file.Files.createTempDirectory("graft_upsert_probe_")
      val snapName = s"graft_probe_snap_$n"
      try {
        writeBucketedSnapshot(snapDf, snapName, root.resolve("v0").toString)
        val (sec, sb) = measured {
          writeBucketedSnapshot(
            upsertMerge(spark.table(snapName), batch),
            snapName + "_v1", root.resolve("v1").toString)
        }
        println(f"[probe] n=$n%8d bucketed-join  ${sec}%6.2f s  shuffle=${sb / 1024}%8d KiB")
        spark.sql(s"DROP TABLE IF EXISTS ${snapName}_v1")

        // ---- union+groupBy merge (the pre-r9 shape) ----
        val (sec2, sb2) = measured {
          upsertLatest(spark.table(snapName).unionByName(batch))
            .write.parquet(root.resolve("v1u").toString)
        }
        println(f"[probe] n=$n%8d union-groupBy ${sec2}%6.2f s  shuffle=${sb2 / 1024}%8d KiB")

        // ---- per-bucket incremental publication: version-write bytes ----
        // cluster-scale bucket count; a 16-user batch touches ≤16 of 256
        // buckets, so new-file bytes must track the batch, not n
        def dirBytes(p: java.nio.file.Path, skip: Set[String]): Long = {
          val ls = java.nio.file.Files.list(p)
          try ls.toArray.map(_.asInstanceOf[java.nio.file.Path])
            .filter { f =>
              val fn = f.getFileName.toString
              !fn.startsWith(".") && !fn.startsWith("_") && !skip(fn)
            }.map(java.nio.file.Files.size).sum
          finally ls.close()
        }
        def names(p: java.nio.file.Path): Set[String] = {
          val ls = java.nio.file.Files.list(p)
          try ls.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet
          finally ls.close()
        }
        // bucket count scales with the snapshot (constant ~15.6k users per
        // bucket — how a cluster sizes buckets to executor memory), so the
        // 16-user batch rewrites a FIXED byte volume as n grows while the
        // full rewrite grows linearly.
        val nb = ((n / 15625L).max(8L).min(1024L)).toInt
        val wide = snapName + "_wide"
        writeBucketedSnapshot(snapDf, wide, root.resolve("w0").toString, n = nb)
        val smallBatch = users(16, 1900000000000000L)
          .withColumn("event_id", col("event_id") + lit(2000000000L))
        val (sec3, _) = measured {
          publishVersion(spark, Some((wide, root.resolve("w0").toString)),
            upsertLatest(smallBatch), wide + "_v1",
            root.resolve("w1").toString, n = nb)
        }
        val newBytes = dirBytes(root.resolve("w1"), names(root.resolve("w0")))
        val fullBytes = dirBytes(root.resolve("w0"), Set.empty)
        println(f"[probe] n=$n%8d incremental   ${sec3}%6.2f s  buckets=$nb%4d  " +
          f"new-file=${newBytes / 1024}%8d KiB  (full rewrite=${fullBytes / 1024}%8d KiB)")
        spark.sql(s"DROP TABLE IF EXISTS ${wide}_v1")
        spark.sql(s"DROP TABLE IF EXISTS $wide")
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $snapName")
        graft.Staging.deleteRecursively(root)
      }
    }
    spark.stop()
  }
}
