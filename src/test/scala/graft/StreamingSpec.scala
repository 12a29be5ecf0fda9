package graft

import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.8 / §5: stream-vs-batch equality for the streaming keys, run
  * as REAL multi-micro-batch streams (3 source files, maxFilesPerTrigger=1)
  * so incremental state, not just a single-batch drain, is what's tested.
  *
  * Equality vs containment per key follows the semantics:
  *  - complete-mode aggregation and the stateful counter see every row
  *    regardless of batch order => exact equality with batch.
  *  - append-mode watermarked queries may drop rows that arrive after the
  *    watermark passed (file order is not time order) => output ⊆ batch.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  /** events split into 3 parquet files (raw nanos Long ts, like the
    * source file) so maxFilesPerTrigger=1 yields 3 micro-batches. */
  private lazy val srcDir: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_stream_multi").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(Tables.path(sf, "events"))
      .repartition(3).write.mode("overwrite").parquet(dir)
    dir
  }

  private def stream3(maxFiles: Int = 1): DataFrame =
    Streams.eventsStreamDir(spark, srcDir, Some(maxFiles))

  test("multi-batch tumbling (complete mode) equals batch windows") {
    val out = Streams.drain(
      stream3().groupBy(window(col("ts"), "1 hour"), col("event_type")).count(),
      OutputMode.Complete())
      .select(col("window.start").as("ws"), col("event_type"), col("count"))
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type")).count()
      .select(col("w.start").as("ws"), col("event_type"), col("count"))
    assert(rowSet(out) === rowSet(batch))
  }

  test("streaming top-k: rank laws and dominance over the batch rollup") {
    // The oracle pins exact equality with the batch replay; this leg pins
    // the LAWS a rank bug could break while still matching a same-bug
    // replay: per window at most 3 rows, ranks contiguous from 1 ordered
    // by (n DESC, event_type), and DOMINANCE — no omitted type in that
    // window counts strictly more than an emitted one.
    val out = SparkEntry.queries("stream_topk_drain")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    assert(out.nonEmpty)
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).count()
      .select(unix_timestamp(col("window.start")).as("ws"),
        col("event_type"), col("count"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    out.groupBy(_._1).foreach { case (ws, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.length <= 3 && sorted.map(_._2).toSeq ===
        (1 to sorted.length), s"window $ws rank shape")
      sorted.sliding(2).foreach {
        case Array((_, _, t1, n1), (_, _, t2, n2)) =>
          assert(n1 > n2 || (n1 == n2 && t1 < t2), s"window $ws rank order")
        case _ =>
      }
      rows.foreach { case (_, _, t, n) =>
        assert(batch((ws, t)) === n, s"window $ws $t count") }
      val emitted = rows.map(_._3).toSet
      val minEmitted = rows.map(_._4).min
      batch.collect { case ((w, t), n) if w == ws && !emitted(t) => (t, n) }
        .foreach { case (t, n) =>
          assert(n <= minEmitted, s"window $ws omitted $t ($n) beats top-3")
        }
    }
  }

  // The declared stream_sliding key evaluates the shared `window` operator
  // in batch; THIS is the real streaming engine run backing that claim.
  test("multi-batch sliding windows (complete mode) equal batch windows") {
    val out = Streams.drain(
      stream3().groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(sum(col("value")).as("sv"), count(lit(1)).as("n")),
      OutputMode.Complete())
      .select(col("window.start").as("ws"), round(col("sv"), 2).as("sv"), col("n"))
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(sum(col("value")).as("sv"), count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), round(col("sv"), 2).as("sv"), col("n"))
    assert(rowSet(out) === rowSet(batch))
    assert(out.count() > 0)
  }

  test("sliding mean rounds an exact 7th-decimal tie HALF_UP, batch and drain") {
    import spark.implicits._
    // 31 events of 10.00 and one of 34.41 inside one 15-minute slot, so
    // each of its 4 sliding windows holds all 32: the exact mean
    // 10.7628125 lies on a tie, and the double avg (34.41 has no exact
    // binary form) lands just below it and rounds to 10.762812
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:01:00").getTime
    val rows = (0L until 32L).map { i =>
      (i, new java.sql.Timestamp(t0 + i * 1000L), i % 3, "view",
        if (i == 31) 34.41 else 10.0, "{}")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_sliding_tie_")
    try {
      // one parquet FILE, like the source: the drain stages it by copy
      val tmp = dir.resolve("tmp")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(part.length == 1)
      java.nio.file.Files.move(part.head.toPath, dir.resolve("events.parquet"))
      for (key <- Seq("stream_sliding", "stream_sliding_drain")) {
        val got = SparkEntry.queries(key)(spark, dir.toString).collect()
          .map(r => (r.getAs[Double]("avg_value"), r.getAs[Long]("n"))).toSeq
        assert(got === Seq.fill(4)((10.762813, 32L)), key)
      }
    } finally {
      Staging.retire(Tables.sourceFingerprint(Tables.path(dir.toString, "events")))
      Staging.deleteRecursively(dir)
    }
  }

  private def statefulCounts(maxFiles: Int): Map[Long, Long] = {
    import spark.implicits._
    Streams.drain(
      stream3(maxFiles)
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout())(
          Streams.countUpdates).toDF(),
      OutputMode.Append())
      .groupBy("user_id").agg(max(col("cnt")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("stateful counter: single-batch equals batch; multi-batch drops only late rows") {
    val batch = Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // full drain in one batch: no row is late => exact equality
    assert(statefulCounts(maxFiles = 3) === batch)
    // 3 unordered batches: the watermark legitimately drops rows that
    // arrive after it passed, never invents them
    val multi = statefulCounts(maxFiles = 1)
    assert(multi.keySet === batch.keySet)
    multi.foreach { case (u, n) =>
      assert(n <= batch(u) && n > 0, s"user $u stream=$n batch=${batch(u)}")
    }
  }

  test("transformWithState twin equals batch counts across unordered multi-batch") {
    import org.apache.spark.sql.streaming.TimeMode
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // TimeMode.None => no watermark, no late-drop: 3 unordered micro-
      // batches must still reach EXACT batch counts (stronger than the
      // flatMapGroupsWithState test, whose watermark may drop late rows).
      val out = Streams.drain(
        stream3(maxFiles = 1)
          .select(col("user_id"), col("ts"))
          .as[(Long, java.sql.Timestamp)]
          .groupByKey(_._1)
          .transformWithState(new graft.streaming.CountProcessor,
            TimeMode.None(), OutputMode.Append()).toDF(),
        OutputMode.Append())
        .groupBy("user_id").agg(max(col("cnt")).as("n"))
      val batch = Tables.events(spark, sf)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      assert(rowSet(out) === rowSet(batch))
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  test("multi-batch streaming dedup is a subset of batch DISTINCT, non-trivial") {
    val out = Streams.drain(
      stream3()
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), col("event_type"), col("ts"))
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type")),
      OutputMode.Append())
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).distinct()
    val (o, b) = (rowSet(out), rowSet(batch))
    assert(o.subsetOf(b))
    assert(o.nonEmpty)
  }

  test("watermarked append windows are a subset of batch, equal when in order") {
    def agg(df: DataFrame) = df
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).count()
      .select(col("window.start").as("ws"), col("event_type"), col("count"))
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type")).count()
      .select(col("w.start").as("ws"), col("event_type"), col("count"))
    val batchMap = batch.collect()
      .map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    // out-of-order multi-batch: every emitted window exists in batch with a
    // count <= the batch count (late rows are dropped, never invented)
    val multi = Streams.drain(agg(stream3()), OutputMode.Append()).collect()
    assert(multi.nonEmpty)
    multi.foreach { r =>
      val k = (r.get(0).toString, r.getString(1))
      assert(batchMap.contains(k), s"window $k not in batch result")
      assert(r.getLong(2) <= batchMap(k), s"window $k overcounted")
    }
    // single full drain: nothing is late; only windows newer than the final
    // watermark (max ts - 1h) may be withheld
    val single = Streams.drain(
      agg(Streams.eventsStream(spark, Tables.path(sf, "events"))),
      OutputMode.Append())
    val missing = rowSet(batch) -- rowSet(single)
    assert(rowSet(single).subsetOf(rowSet(batch)))
    val maxTs = Tables.events(spark, sf).agg(max("ts")).head().getTimestamp(0)
    val cut = maxTs.getTime - 3600 * 1000L
    missing.foreach { row =>
      val ws = java.sql.Timestamp.valueOf(row.head.replace("T", " "))
      assert(ws.getTime + 3600 * 1000L > cut,
        s"window $ws was finalized but not emitted")
    }
  }

  test("stream-stream interval join: full drain equals batch; multi-batch is a sound subset") {
    // view → click attribution within 30 min per user: the canonical
    // stream-stream join shape. Inner joins emit matches as both sides
    // arrive, so a single-batch full drain must EQUAL the batch interval
    // self-join; an unordered multi-batch drain may only MISS pairs
    // (watermark-expired state), never invent them.
    def sides(df: org.apache.spark.sql.DataFrame) = {
      val v = df.where(col("event_type") === "view")
        .select(col("user_id").as("v_uid"), col("ts").as("v_ts"),
          col("event_id").as("v_id"))
        .withWatermark("v_ts", "1 hour")
      val c = df.where(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("ts").as("c_ts"),
          col("event_id").as("c_id"))
        .withWatermark("c_ts", "1 hour")
      v.join(c, col("v_uid") === col("c_uid") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("v_id"), col("c_id"))
    }
    val batch = {
      val e = Tables.events(spark, sf)
      val v = e.where(col("event_type") === "view")
        .select(col("user_id").as("v_uid"), col("ts").as("v_ts"), col("event_id").as("v_id"))
      val c = e.where(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      v.join(c, col("v_uid") === col("c_uid") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("v_id"), col("c_id"))
    }
    val single = Streams.drain(sides(stream3(maxFiles = 3)), OutputMode.Append())
    assert(rowSet(single) === rowSet(batch), "single-batch drain must equal batch join")
    assert(rowSet(batch).nonEmpty, "vacuous fixture: no view→click pairs")
    val multi = Streams.drain(sides(stream3(maxFiles = 1)), OutputMode.Append())
    assert(rowSet(multi).subsetOf(rowSet(batch)), "multi-batch invented pairs")
  }

  test("stream-stream LEFT OUTER interval join: full drain equals the " +
    "watermark closed form; multi-batch never invents matches or " +
    "double-reports a view") {
    // Sides mirror the declared key (second-truncated event time, 1 h
    // watermark both sides, view→click within 30 min, left outer).
    def sides(df: org.apache.spark.sql.DataFrame) = {
      val v = df.where(col("event_type") === "view")
        .select(col("user_id").as("v_uid"),
          date_trunc("second", col("ts")).as("v_ts"),
          col("event_id").as("v_id"))
        .withWatermark("v_ts", "1 hour")
      val c = df.where(col("event_type") === "click")
        .select(col("user_id").as("c_uid"),
          date_trunc("second", col("ts")).as("c_ts"),
          col("event_id").as("c_id"))
        .withWatermark("c_ts", "1 hour")
      v.join(c, col("v_uid") === col("c_uid") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
        .select(col("v_id"), col("c_id"))
    }
    // The closed form, derived INDEPENDENTLY from the batch tables:
    // matches = the batch interval join; null rows = matchless views
    // with v_ts + 30 min strictly under the terminal watermark
    // min(max v_ts, max c_ts) − 1 h.
    val e = Tables.events(spark, sf)
    def sideB(t: String, p: String) = e.where(col("event_type") === t)
      .select(col("user_id").as(s"${p}_uid"),
        date_trunc("second", col("ts")).as(s"${p}_ts"),
        col("event_id").as(s"${p}_id"))
    val vB = sideB("view", "v"); val cB = sideB("click", "c")
    val matches = vB.join(cB, col("v_uid") === col("c_uid") &&
      col("c_ts") >= col("v_ts") &&
      col("c_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("v_id"), col("c_id"))
    val wmMs = math.min(
      vB.agg(max(unix_millis(col("v_ts")))).head.getLong(0),
      cB.agg(max(unix_millis(col("c_ts")))).head.getLong(0)) - 3600000L
    val matchedIds = matches.select("v_id").distinct()
    val nulls = vB.join(matchedIds, Seq("v_id"), "left_anti")
      .where(unix_millis(col("v_ts")) + 1800000L < wmMs)
      .select(col("v_id"), lit(null).cast("long").as("c_id"))
    val want = rowSet(matches.unionByName(nulls))
    val single = Streams.drain(sides(stream3(maxFiles = 3)),
      OutputMode.Append())
    assert(rowSet(single) === want,
      "single-batch outer drain must equal the closed form")
    assert(nulls.count() > 0, "vacuous fixture: no null-padded views")
    // Unordered multi-batch: real matches stay a subset of the batch
    // join, and no view may report both a match and a null row (the
    // matched flag in join state must suppress the eviction emit).
    val multi = Streams.drain(sides(stream3(maxFiles = 1)),
      OutputMode.Append()).cache()
    try {
      val mPairs = multi.where(col("c_id").isNotNull)
      assert(rowSet(mPairs).subsetOf(rowSet(matches)),
        "multi-batch invented matches")
      val both = multi.groupBy("v_id")
        .agg(sum(when(col("c_id").isNull, 1).otherwise(0)).as("nn"),
          sum(when(col("c_id").isNotNull, 1).otherwise(0)).as("nm"))
        .where(col("nn") > 0 && col("nm") > 0)
      assert(both.count() === 0,
        "a view emitted both a null row and a match")
    } finally { multi.unpersist(); () }
  }

  test("streaming session_window equals batch session_window on drain") {
    val out = Streams.drain(
      stream3(maxFiles = 3) // one batch: in-order => every session finalized
        .withWatermark("ts", "30 minutes")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n")),
      OutputMode.Append())
      .select(col("user_id"), col("sw.start").as("st"), col("n"))
    val batch = Tables.events(spark, sf)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("sw.start").as("st"), col("n"))
    val (o, b) = (rowSet(out), rowSet(batch))
    assert(o.subsetOf(b))
    // everything except sessions still open at the final watermark is out
    assert(o.size >= b.size - 50, s"stream=${o.size} batch=${b.size}")
  }
}
