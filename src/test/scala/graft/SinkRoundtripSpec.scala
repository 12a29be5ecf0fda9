package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §2.1: csv / json / parquet / orc sink round-trips — write a
  * query result, read it back with the written schema, get the same rows.
  * (Avro is excluded: the spark-avro data-source jar isn't in this
  * distribution's /opt/spark/jars.) */
class SinkRoundtripSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val result =
    SparkEntry.queries("agg_pricing_summary")(spark, sf).cache()

  private def tmp(suffix: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_sink_$suffix").toString + "/out"

  test("parquet sink round-trip") {
    val p = tmp("parquet")
    result.write.mode("overwrite").parquet(p)
    assert(rowSet(spark.read.parquet(p)) === rowSet(result))
  }

  test("csv sink round-trip") {
    val p = tmp("csv")
    result.write.mode("overwrite").option("header", "true").csv(p)
    val back = spark.read.schema(result.schema).option("header", "true").csv(p)
    assert(rowSet(back) === rowSet(result))
  }

  test("orc sink round-trip") {
    val p = tmp("orc")
    result.write.mode("overwrite").orc(p)
    assert(rowSet(spark.read.orc(p)) === rowSet(result))
  }

  test("source_orc key equals the raw orders projection") {
    // The declared ORC SOURCE key (ops.Sinks): staged ORC artifact read
    // back with an explicit (derived) schema must be an identity
    // projection of the raw orders table — including the timestamp
    // column, which text formats degrade and ORC must round-trip.
    import org.apache.spark.sql.functions.col
    val back = SparkEntry.queries("source_orc")(spark, sf)
    val raw = Tables.table(spark, sf, "orders")
      .select(back.schema.fieldNames.map(col).toSeq: _*)
    assert(rowSet(back) === rowSet(raw))
    assert(back.schema === raw.schema)
  }

  test("sweep treats DIRECTORY-shaped corpus tables as live and refuses " +
       "to sweep when liveness cannot be established") {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    val parent = Files.createTempDirectory("graft_sink_sweep_")
    val corpus = Files.createTempDirectory("graft_sink_corpus_")
    // Spark-written corpora are parquet DIRECTORIES, not single files —
    // a liveness check that only fingerprints regular files would see an
    // empty live set here and delete the other generation's artifact.
    Files.createDirectories(corpus.resolve("sfA").resolve("tbl.parquet"))
    Files.write(corpus.resolve("sfA").resolve("tbl.parquet").resolve("part-0"),
      Array[Byte](1))
    Files.createDirectories(corpus.resolve("sfB").resolve("tbl.parquet"))
    Files.write(corpus.resolve("sfB").resolve("tbl.parquet").resolve("part-0"),
      Array[Byte](1, 2))
    val srcA = corpus.resolve("sfA").resolve("tbl.parquet")
    val fpA = Tables.sourceFingerprint(srcA.toString)
    val fpB = Tables.sourceFingerprint(
      corpus.resolve("sfB").resolve("tbl.parquet").toString)
    def mk(name: String, old: Boolean): java.nio.file.Path = {
      val d = Files.createDirectories(parent.resolve(name))
      Files.createFile(d.resolve("_SUCCESS"))
      if (old) Files.setLastModifiedTime(d,
        FileTime.fromMillis(System.currentTimeMillis() - 7200000L))
      d
    }
    val v = "_foo_v" + Staging.formatVersion
    try {
      val kept = mk(fpA + v, old = false)
      val otherSfDir = mk(fpB + v, old = true) // live, dir-shaped
      val retired = mk("aaaa12345678" + v, old = true)
      Staging.sweep(parent, Staging.Key(srcA.toString, "foo"))
      assert(Files.exists(otherSfDir),
        "sweep deleted an artifact keyed to a live DIRECTORY-shaped corpus")
      assert(Files.exists(kept) && !Files.exists(retired),
        "sweep kept a retired-corpus artifact or took the live publish")
      // Liveness unestablishable (no sibling dir carries the table at
      // all): the sweep must do NOTHING — "nothing is live" is never
      // distinguishable from "looked in the wrong place".
      val ghostSrc = corpus.resolve("sfGhost").resolve("none.parquet")
      val survivor = mk("eeee12345678" + v, old = true)
      Staging.sweep(parent, Staging.Key(ghostSrc.toString, "ffff", "foo"))
      assert(Files.exists(survivor),
        "sweep ran with an empty live set — cross-generation deletion risk")
    } finally {
      Staging.deleteRecursively(parent)
      Staging.deleteRecursively(corpus)
    }
  }

  test("json sink round-trip") {
    val p = tmp("json")
    result.write.mode("overwrite").json(p)
    val back = spark.read.schema(result.schema).json(p)
    assert(rowSet(back) === rowSet(result))
  }

  test("dynamic overwrite kept every untouched day (static would wipe " +
    "them) and restated days really shrank") {
    val store = TestSpark.spark.read.parquet(
      ops.Sinks.ensureDynOverwriteEvents(TestSpark.spark, TestSpark.sf))
    val rawDays = Tables.events(TestSpark.spark, TestSpark.sf)
      .select(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")).as("day"))
      .distinct().collect().map(_.getDate(0).toString).toSet
    val storeDays = store.select("day").distinct().collect()
      .map(_.getDate(0).toString).toSet
    // THE dynamic-vs-static causality: a static overwrite leaves only
    // the delta's partitions; dynamic must preserve the full day set
    assert(storeDays === rawDays,
      "store must carry every raw day, not just the restated ones")
    val rawByDay = Tables.events(TestSpark.spark, TestSpark.sf)
      .groupBy(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")).as("day"))
      .count().collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // delta row counts per restated day — an EMPTY delta never writes
    // its partition, so the base day survives whole (engine semantics,
    // mirrored by the oracle's carve-out)
    val deltaByDay = Tables.events(TestSpark.spark, TestSpark.sf)
      .where(org.apache.spark.sql.functions.expr(
        "day(ts) % 7 = 3 AND event_id % 3 != 0"))
      .groupBy(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")).as("day"))
      .count().collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    store.groupBy("day").count().collect().foreach { r =>
      val (d, n) = (r.getDate(0), r.getLong(1))
      val restated = (d.toLocalDate.getDayOfMonth % 7) == 3
      if (restated && deltaByDay.contains(d.toString))
        assert(n === deltaByDay(d.toString),
          s"$d restated day must carry exactly the delta")
      else assert(n === rawByDay(d.toString),
        s"$d untouched (or empty-delta) day mutated")
    }
  }

  test("sink_compaction actually shrinks per-day file counts") {
    // The oracle proves the "after" law (⌈n/R⌉ files) and data equality;
    // this pins the "before" half the oracle can't see: the fragmented
    // artifact really is multi-file per day, and compaction strictly
    // reduced every day's file count (8-way ingest fan-out → ⌈n/1000⌉).
    import org.apache.spark.sql.functions._
    def perDayFiles(root: String) =
      spark.read.parquet(root).withColumn("f", input_file_name())
        .groupBy("day").agg(countDistinct(col("f")).as("nf"))
        .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val before = perDayFiles(ops.Sinks.ensureFragmentedEvents(spark, sf))
    val after = perDayFiles(ops.Sinks.ensureCompactedEvents(spark, sf))
    assert(before.keySet === after.keySet, "compaction dropped a day")
    assert(before.values.forall(_ > 1), s"fragmented sink is not fragmented")
    for ((d, nf) <- after)
      assert(nf < before(d), s"day $d: $nf files not fewer than ${before(d)}")
  }

  test("sink_zorder buckets bound BOTH key extents and prune on read") {
    import org.apache.spark.sql.functions._
    // The oracle proves data preservation; this pins the CLUSTERING
    // claim the oracle's hash can't grade: every bucket's bounding
    // rectangle is a small tile of the key space in BOTH dimensions —
    // the property a single-column sort cannot give (its non-sorted key
    // spans the full range in every file). Measured max extent fraction:
    // 0.5 (px) / 0.3 (py) at sf0.001, exactly 1/8 both at sf0.1.
    val z = spark.read.parquet(ops.Sinks.ensureZorderLineitem(spark, sf))
    val Seq(gp, gs) = z.agg(
      (max("l_partkey") - min("l_partkey")).cast("double").as("gp"),
      (max("l_suppkey") - min("l_suppkey")).cast("double").as("gs"))
      .collect().head.toSeq.map(_.asInstanceOf[Double])
    val g = z.groupBy("zb").agg(
      (max("l_partkey") - min("l_partkey")).cast("double").as("pw"),
      (max("l_suppkey") - min("l_suppkey")).cast("double").as("sw"))
      .collect()
    assert(g.length > 8, s"degenerate bucketing: ${g.length} buckets")
    for (r <- g) {
      assert(r.getAs[Double]("pw") <= 0.55 * gp,
        s"bucket ${r.get(0)}: partkey extent ${r.getAs[Double]("pw")} " +
          s"not a small tile of $gp")
      assert(r.getAs[Double]("sw") <= 0.55 * gs,
        s"bucket ${r.get(0)}: suppkey extent ${r.getAs[Double]("sw")} " +
          s"not a small tile of $gs")
    }
    // A zb predicate must prune at the directory level (PartitionFilters
    // on the scan), not filter post-read.
    val plan = z.where(col("zb") === 3)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*zb".r.findFirstIn(plan).isDefined,
      s"zb filter did not reach PartitionFilters:\n$plan")
  }
}
