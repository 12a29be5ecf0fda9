package graft

import org.scalatest.funsuite.AnyFunSuite

/** The artifact store: the publish-once protocol (crash points, a
  * racing second JVM, the lost-race policy, the nonce staleness token),
  * its one sweep policy, and the compute-or-load semantics of the thunked
  * `Staging.materialize` overload — the build thunk must run on a cache
  * miss and must NOT run when the staged artifact is served, which is
  * what lets eager-to-construct artifacts (the PQ codebook's seed collect
  * + Lloyd corpus pass) cost their build once per corpus version instead
  * of once per query. */
class StagingSpec extends AnyFunSuite {
  import TestSpark._

  test("Bench.stagedReadKeys are all declared queries") {
    // The bench warm-up force-builds every stagedReadKeys artifact by
    // invoking the key; a renamed/removed key would make the warm-up
    // silently skip it (NonFatal-swallowed) and the timed pass would pay
    // a cold build again — exactly the r10 driver-bench failure mode.
    val unknown = Bench.stagedReadKeys.toSet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"stagedReadKeys not in queries: $unknown")
  }

  test("unusable tmpdir degrades to the uncached plan, not a failure") {
    import spark.implicits._
    // Force session init AND first-query lazies (ArtifactManager's static
    // artifact root) BEFORE breaking tmpdir — both need a writable temp
    // dir once per JVM, and this suite may run first / in isolation.
    Seq((0, "z")).toDF("id", "s").collect()
    val src = Tables.path(sf, "region")
    // Point java.io.tmpdir at a FILE so the graft_derived dir can't be
    // created: materialize must return the original plan (identical
    // results, just uncached), never throw.
    val blocker = java.nio.file.Files.createTempFile("graft-not-a-dir", "")
    val tmpWas = sys.props("java.io.tmpdir")
    sys.props("java.io.tmpdir") = blocker.toString
    try {
      val out = Staging.materialize(spark, src, "stagingspec_unwritable_v1") {
        Seq((7, "x")).toDF("id", "s")
      }
      assert(out.collect().map(_.getInt(0)).toSeq === Seq(7))
    } finally {
      sys.props("java.io.tmpdir") = tmpWas
      java.nio.file.Files.deleteIfExists(blocker)
    }
  }

  test("build thunk runs on miss, is skipped on hit, runs again when disabled") {
    import spark.implicits._
    val src = Tables.path(sf, "region") // any real file, for the fingerprint
    val name = "stagingspec_probe_v1"
    val dir = Staging.derivedDir(src, name)
    Staging.deleteRecursively(dir)
    var builds = 0
    def build = { builds += 1; Seq((1, "a"), (2, "b")).toDF("id", "s") }
    val stagingWas = sys.props.get("graft.staging")
    try {
      sys.props -= "graft.staging" // default: enabled
      val first = Staging.materialize(spark, src, name)(build)
      assert(builds === 1)
      assert(first.collect().map(_.getInt(0)).sorted === Array(1, 2))
      val second = Staging.materialize(spark, src, name)(build)
      assert(builds === 1, "build thunk forced on a cache hit")
      assert(second.collect().map(_.getInt(0)).sorted === Array(1, 2))
      // disabled → bypass the cache entirely: the thunk's plan IS the result
      sys.props("graft.staging") = "false"
      Staging.materialize(spark, src, name)(build)
      assert(builds === 2, "disabled staging must evaluate the thunk")
    } finally {
      stagingWas match {
        case Some(v) => sys.props("graft.staging") = v
        case None => sys.props -= "graft.staging"
      }
      Staging.deleteRecursively(dir)
    }
  }

  test("format version is part of every staged key; old formats are swept") {
    import spark.implicits._
    val src = Tables.path(sf, "region")
    val name = "stagingspec_fmt_probe"
    val cur = Staging.derivedDir(src, name)
    // a bumped version RELOCATES the key → nothing at the new path → the
    // next materialize cold-rebuilds; an unchanged version is byte-stable
    val bumped = Staging.derivedDir(src, name, Staging.formatVersion + 1)
    assert(cur.toString.endsWith("_v" + Staging.formatVersion))
    assert(cur != bumped && !java.nio.file.Files.exists(bumped))
    // seed a retired-format artifact (the pre-version unsuffixed shape)
    // plus a CURRENT-format sibling; the sweep must take only the former
    val parent = cur.getParent
    java.nio.file.Files.createDirectories(parent)
    val retired = parent.resolve(s"${Tables.sourceFingerprint(src)}_${name}_stale")
    java.nio.file.Files.createDirectories(retired)
    java.nio.file.Files.setLastModifiedTime(retired,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200000L)) // past the 1h guard
    Staging.deleteRecursively(cur)
    try {
      Staging.materialize(spark, src, name)(Seq((1, "a")).toDF("id", "s"))
      assert(java.nio.file.Files.isDirectory(cur), "current-format key missing")
      assert(!java.nio.file.Files.exists(retired),
        "retired-format artifact survived the sweep")
    } finally {
      Staging.deleteRecursively(cur)
      Staging.deleteRecursively(retired)
    }
  }

  test("superseded name-siblings (embedded inner fingerprint) are reclaimed") {
    // agg_gini folds the CUSTOMER fingerprint into an orders-keyed name:
    // when customer regenerates, the old name strands with a live outer
    // fingerprint + current format tag — only retireSiblings can take it
    // (r19 ADVICE). Fresh siblings and other names must survive.
    val src = Tables.path(sf, "region")
    val keep = "stagingspec_sib_cNEW_v1"
    val parent = Staging.derivedDir(src, keep).getParent
    java.nio.file.Files.createDirectories(parent)
    val fp = Tables.sourceFingerprint(src)
    def mk(name: String, old: Boolean): java.nio.file.Path = {
      val p = parent.resolve(s"${fp}_${name}_v" + Staging.formatVersion)
      java.nio.file.Files.createDirectories(p)
      if (old) java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 7200000L))
      p
    }
    val keepDir  = mk(keep, old = true)             // the current name
    val staleSib = mk("stagingspec_sib_cOLD_v1", old = true)  // superseded
    val freshSib = mk("stagingspec_sib_cMID_v1", old = false) // < 1h guard
    val other    = mk("stagingspec_other_v1", old = true)     // ≠ prefix
    try {
      Staging.retireSiblings(src, "stagingspec_sib_c", keep)
      assert(java.nio.file.Files.isDirectory(keepDir), "current name swept")
      assert(!java.nio.file.Files.exists(staleSib),
        "superseded sibling survived retireSiblings")
      assert(java.nio.file.Files.isDirectory(freshSib),
        "age guard ignored — a possibly-concurrent publish was raced")
      assert(java.nio.file.Files.isDirectory(other), "non-prefix name swept")
    } finally Seq(keepDir, staleSib, freshSib, other)
      .foreach(Staging.deleteRecursively)
  }

  test("retired-SOURCE artifacts are reclaimed; live and unestablishable " +
       "cases are left alone") {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    // corpus root with two live sf dirs (one file-shaped, one dir-shaped
    // table — both must count as live)
    val corpus = Files.createTempDirectory("graft_stg_corpus_")
    Files.createDirectories(corpus.resolve("sfA"))
    Files.write(corpus.resolve("sfA").resolve("tbl.parquet"), Array[Byte](1))
    Files.createDirectories(corpus.resolve("sfB").resolve("tbl.parquet"))
    Files.write(corpus.resolve("sfB").resolve("tbl.parquet").resolve("p0"),
      Array[Byte](2))
    val src = corpus.resolve("sfA").resolve("tbl.parquet")
    val fpA = Tables.sourceFingerprint(src.toString)
    val fpB = Tables.sourceFingerprint(
      corpus.resolve("sfB").resolve("tbl.parquet").toString)
    val root = Files.createTempDirectory("graft_stg_root_")
    def mk(name: String, old: Boolean): java.nio.file.Path = {
      val d = Files.createDirectories(root.resolve(name))
      if (old) Files.setLastModifiedTime(d,
        FileTime.fromMillis(System.currentTimeMillis() - 7200000L))
      d
    }
    val v = "_x_v" + Staging.formatVersion
    try {
      val liveA = mk(fpA + v, old = true)   // live fp, old — keep
      val liveB = mk(fpB + v, old = true)   // other live SF — keep
      val deadOld = mk("aaaa12345678" + v, old = true)   // retired — sweep
      val deadNew = mk("bbbb12345678" + v, old = false)  // too fresh — keep
      val tmp = mk("cccc12345678" + v + ".tmp-abc", old = true) // temp guard
      Staging.sweep(root, Staging.Key(src.toString, "x"))
      assert(Files.exists(liveA) && Files.exists(liveB),
        "sweep deleted an artifact keyed to a live corpus generation")
      assert(!Files.exists(deadOld), "retired-source artifact not reclaimed")
      assert(Files.exists(deadNew), "age guard ignored")
      assert(Files.exists(tmp), "temp reaped inside its own age guard")
      // liveness unestablishable (corpus root itself is gone — e.g. a
      // probe's deleted temp tree): must sweep NOTHING
      val ghost = java.nio.file.Paths.get(
        root.toString + "_gone", "sfX", "none.parquet")
      val survivor = mk("dddd12345678" + v, old = true)
      Staging.sweep(root, Staging.Key(ghost.toString, "ffff", "x"))
      assert(Files.exists(survivor),
        "sweep ran with an empty live set — deletion with no liveness proof")
    } finally {
      Staging.deleteRecursively(root)
      Staging.deleteRecursively(corpus)
    }
  }

  import java.nio.file.{Files, Path}
  import java.nio.file.attribute.FileTime

  /** A throwaway corpus (<root>/sfA/tbl.parquet, one plain file) and a
    * private artifact root, so the protocol runs with no Spark job. */
  private def withStore(body: (String, Staging.Key) => Unit): Unit = {
    val corpus = Files.createTempDirectory("graft_stg_corpus_")
    val src = Files.createDirectories(corpus.resolve("sfA")).resolve("tbl.parquet")
    Files.write(src, Array[Byte](1, 2, 3))
    val root = "graft_stagingspec_" + java.util.UUID.randomUUID
    try body(root, Staging.Key(src.toString, "probe"))
    finally {
      Staging.deleteRecursively(Staging.rootDir(root))
      Staging.deleteRecursively(corpus)
    }
  }

  private def age(p: Path, ms: Long): Unit =
    Files.setLastModifiedTime(p,
      FileTime.fromMillis(System.currentTimeMillis() - ms))

  private def temps(root: String): Seq[String] = {
    val ls = Files.list(Staging.rootDir(root))
    try ls.toArray.map(_.toString).filter(_.contains(".tmp-")).toSeq
    finally ls.close()
  }

  test("publish: a crash after the write, after the stamp or after the " +
       "rename is rebuilt exactly once or reused; orphans swept past the guard") {
    withStore { (root, base) =>
      def write(tmp: Path): Unit = {
        Files.createDirectories(tmp)
        Files.write(tmp.resolve("part-0"), Array[Byte](4, 5, 6))
      }
      def dirOf(k: Staging.Key) = Staging.rootDir(root).resolve(k.dirName())
      // what any reader can observe at the artifact path: nothing, or a
      // complete dir — never one without its _SUCCESS nonce
      def readerSafe(k: Staging.Key) =
        !Files.exists(dirOf(k)) || Staging.nonce(dirOf(k)).isDefined
      def builds(k: Staging.Key)(f: => Unit): Long = {
        val b0 = Staging.buildCount.get(); f; Staging.buildCount.get() - b0
      }
      def publish(k: Staging.Key): Path = Staging.publish(root, k) { tmp =>
        assert(readerSafe(k), "partial artifact visible during the build")
        write(tmp)
      }
      // each crash point leaves the state a killed JVM leaves: the
      // protocol's own steps, run up to the crash
      val afterWrite = base.copy(name = "after_write")
      val t1 = Staging.tmpFor(dirOf(afterWrite))
      write(t1)
      val afterStamp = base.copy(name = "after_stamp")
      val t2 = Staging.tmpFor(dirOf(afterStamp))
      write(t2); Staging.stamp(t2)
      val afterRename = base.copy(name = "after_rename")
      val t3 = Staging.tmpFor(dirOf(afterRename))
      write(t3); Staging.stamp(t3); Staging.commit(t3, dirOf(afterRename))
      val renamedNonce = Staging.nonce(dirOf(afterRename))
      Seq(afterWrite, afterStamp, afterRename).foreach(k =>
        assert(readerSafe(k), s"${k.name}: crash left a partial artifact"))

      assert(builds(afterWrite)(publish(afterWrite)) === 1)
      assert(builds(afterStamp)(publish(afterStamp)) === 1)
      assert(builds(afterRename)(publish(afterRename)) === 0,
        "a complete artifact was rebuilt")
      assert(Staging.nonce(dirOf(afterRename)) === renamedNonce)
      Seq(afterWrite, afterStamp, afterRename).foreach { k =>
        assert(Staging.nonce(dirOf(k)).isDefined)
        assert(Files.readAllBytes(dirOf(k).resolve("part-0")).toSeq ===
          Seq[Byte](4, 5, 6))
        assert(builds(k)(publish(k)) === 0, s"${k.name}: warm hit rebuilt")
      }
      // the crashed temps are fresh: a sweep inside their guard keeps them
      assert(Files.exists(t1) && Files.exists(t2))
      age(t1, Staging.TempAgeMs + 60000L)
      age(t2, Staging.TempAgeMs + 60000L)
      val fresh = Staging.tmpFor(dirOf(base.copy(name = "in_flight")))
      write(fresh)
      publish(base.copy(name = "trigger")) // a build sweeps its root
      assert(!Files.exists(t1) && !Files.exists(t2), "orphan temp not swept")
      assert(Files.exists(fresh), "an in-flight temp was reaped")
    }
  }

  test("publish: an incomplete dir in place is evicted only past the crash " +
       "guard; a fresh one fails the publish by name") {
    withStore { (root, key) =>
      val dir = Staging.rootDir(root).resolve(key.dirName())
      Files.createDirectories(dir.resolve("partial"))
      val tmp = Staging.tmpFor(dir)
      Files.createDirectories(tmp)
      Staging.stamp(tmp)
      val e = intercept[IllegalStateException](Staging.commit(tmp, dir, 300L))
      assert(e.getMessage.contains("never complete"))
      assert(Files.exists(dir.resolve("partial")), "a fresh dir was deleted")
      age(dir, Staging.CrashAgeMs + 60000L)
      Staging.commit(tmp, dir, 300L)
      assert(Staging.nonce(dir).isDefined && !Files.exists(dir.resolve("partial")))
    }
  }

  test("a republished artifact is never served from the read memo") {
    withStore { (root, key) =>
      var reads = 0
      def read(dir: Path) = Tables.memoizedSourceRead(spark, dir.toString,
        "stagingspec") { _ => reads += 1; spark.emptyDataFrame }
      def publish() = Staging.publish(root, key)(Staging.stamp)
      read(publish()); read(publish())
      assert(reads === 1, "warm read missed the memo")
      Staging.deleteRecursively(publish())
      read(publish()) // same path, new nonce
      assert(reads === 2, "republished dir served a stale memo entry")
    }
  }

  test("graft_bucketed: retired-fingerprint and crashed entries are " +
       "reclaimed after a publish") {
    val root = Staging.BucketedRoot
    val src = Tables.path(sf, "orders")
    val rootDir = Staging.rootDir(root)
    Files.createDirectories(rootDir)
    val v = "_bkt_orders_v" + Staging.formatVersion
    def plant(name: String, ms: Long): Path = {
      val d = Files.createDirectories(rootDir.resolve(name))
      Files.write(d.resolve("part-0"), Array[Byte](1))
      age(d, ms)
      d
    }
    val retiredCorpus = plant("aaaa12345678" + v, Staging.RetiredAgeMs + 60000L)
    val preProtocol = plant("graft_bkt_aaaa12345678_orders",
      Staging.RetiredAgeMs + 60000L)
    val crashed = plant("bbbb12345678" + v + ".tmp-x", Staging.TempAgeMs + 60000L)
    val key = Staging.Key(src, "stagingspec_bkt")
    try {
      Staging.publish(root, key)(Staging.stamp)
      Seq(retiredCorpus, preProtocol, crashed).foreach(p =>
        assert(!Files.exists(p), s"$p survived the bucketed root's sweep"))
    } finally {
      Seq(retiredCorpus, preProtocol, crashed,
        rootDir.resolve(key.dirName())).foreach(Staging.deleteRecursively)
    }
  }

  test("two JVMs racing one key: 1-2 builds, one complete nonce, no temps") {
    withStore { (root, key) =>
      val go = Files.createTempFile("graft_stg_go_", "")
      Files.delete(go)
      val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java")
      val child = new ProcessBuilder(javaBin.toString, "-Xmx128m",
          "-Djava.io.tmpdir=" + sys.props("java.io.tmpdir"),
          "-cp", sys.props("java.class.path"), "graft.PublishRaceMain",
          root, key.source, key.name, go.toString)
        .redirectErrorStream(true).start()
      try {
        Thread.sleep(1500L) // let the child JVM reach its wait loop
        val b0 = Staging.buildCount.get()
        Files.createFile(go)
        val dir = Staging.publish(root, key)(StagingSpec.slowWrite)
        val mine = Staging.buildCount.get() - b0
        val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
        assert(child.waitFor(60, java.util.concurrent.TimeUnit.SECONDS))
        assert(child.exitValue() === 0, out)
        val m = "builds=(\\d+) nonce=(\\S+)".r.findFirstMatchIn(out)
          .getOrElse(fail(s"child printed no result: $out"))
        val total = mine + m.group(1).toLong
        assert(total >= 1 && total <= 2, s"builds summed over both JVMs: $total")
        assert(Staging.nonce(dir) === Some(m.group(2)),
          "the JVMs were served different artifacts")
        assert(temps(root).isEmpty, s"temps left: ${temps(root)}")
      } finally {
        child.destroyForcibly()
        Files.deleteIfExists(go)
      }
    }
  }

  test("publish paths live only in Staging, session builders only in " +
       "GraftSession") {
    // pattern → the one file under src/main/scala allowed to hold it
    val owners = Seq(
      "ATOMIC_MOVE" -> "Staging.scala",
      "\".tmp-\"" -> "Staging.scala",
      "buildCount.incrementAndGet" -> "Staging.scala",
      "SparkSession.builder" -> "GraftSession.scala",
      // the one word tokenizer and its DuckDB twin
      "split(lower(col(\"text\"))" -> "Words.scala",
      "split(col(\"text\")" -> "Words.scala",
      "string_split(" -> "Words.scala")
    val files = StagingSpec.mainSources()
    val names = files.map(_.getFileName.toString).toSet
    owners.foreach { case (_, owner) => assert(names(owner), s"no $owner") }
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).toArray.map(_.toString).zipWithIndex
      (pattern, owner) <- owners
      if line.contains(pattern) && f.getFileName.toString != owner
    } yield s"$f:${i + 1}: ${line.trim} (belongs in $owner)"
    assert(offenders.isEmpty,
      "hand-written publish path, session builder or tokenizer outside " +
        "its owner:\n" +
        offenders.mkString("\n"))
  }
}

object StagingSpec {
  /** Every `.scala` file under src/main/scala — the tree the structural
    * guards here and in GraftSessionSpec scan. */
  def mainSources(): Seq[java.nio.file.Path] = {
    import java.nio.file.{Files, Path, Paths}
    val main = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(main), s"no sources at $main")
    val walk = Files.walk(main)
    try walk.toArray.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".scala")).toSeq finally walk.close()
  }

  /** A plain-file artifact body slow enough that two racing JVMs both
    * miss and both build. */
  def slowWrite(tmp: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(tmp)
    java.nio.file.Files.write(tmp.resolve("part-0"), Array[Byte](7, 8, 9))
    Thread.sleep(500L)
  }
}
