package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftSession's recommended and local confs are asserted as DATA
  * (building a session against the already-running shared test context
  * would silently drop static confs and mutate the shared session —
  * proving nothing and leaking settings into later suites). The extension mechanics — the one
  * part that needs a live session — are exercised on an isolated
  * newSession whose state is not shared. */
class GraftSessionSpec extends AnyFunSuite {

  test("recommended confs carry the cluster stance") {
    val c = GraftSession.recommended(shufflePartitions = 7).toMap
    assert(c("spark.sql.extensions") === "graft.functions.GraftExtensions")
    assert(c("spark.sql.shuffle.partitions") === "7")
    assert(c("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(c("spark.sql.files.maxPartitionBytes") === "268435456")
    assert(c("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(c("spark.sql.session.timeZone") === "UTC")
    // builder() must accept the full set without throwing
    GraftSession.builder(7)
    // local(cpus): the one factory every local harness builds through
    assert(GraftSession.localConfs(3).toMap === Map(
      "spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC"))
  }

  test("the graft.* option surface is exactly the 2 kept options") {
    // A quoted `graft.<lowercase>...` literal is an option name; class
    // names (graft.functions.GraftExtensions) end in an uppercase segment.
    val opt = "\"(graft(?:\\.[a-z][A-Za-z]*)+)\"".r
    val uses = for {
      f <- StagingSpec.mainSources()
      line <- java.nio.file.Files.readAllLines(f).toArray.map(_.toString)
      m <- opt.findAllMatchIn(line)
    } yield m.group(1)
    assert(uses.toSet === Set(
      "graft.staging",               // plan-only mode (Explain)
      "graft.cc.checkpointDir"))
  }

  test("the extension makes graft_cosine callable from SQL text") {
    // isolated session state; registration does not touch TestSpark.spark
    val s = TestSpark.spark.newSession()
    graft.functions.GraftExtensions.register(s)
    val r = s.sql(
      "SELECT round(graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)), 6) AS c")
      .head().getDouble(0)
    assert(r === 1.0)
  }
}
