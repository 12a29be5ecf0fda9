package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, SparkEntry, Staging}
import graft.streaming.Streams

/** One benchmark run in one JVM: derives the workload's keys from the
  * engine's code, builds a session with graft.Bench's confs, sets up with
  * one untimed pass from empty staging roots that writes each key's full
  * result for the oracle check, runs one more untimed pass on the timed
  * code path, then runs timed passes over the keys (closed loop, one
  * client) for the requested seconds, at least MinPasses of them.
  * Everything it measured goes to one JSON record; `perfbench/run.py`
  * turns that into metrics.
  *
  * Usage: Runner --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --record FILE --costs FILE [--exclude k1,k2]
  */
object Runner {
  /** Timed keys per workload, and stream keys drained in set-up only. */
  val SampleSize = Map("sf01_warm" -> 10, "x10_warm" -> 6)
  val SetupStreams = Map("sf01_warm" -> 1, "x10_warm" -> 0)
  val Tier = Map("sf01_warm" -> "sf01", "x10_warm" -> "x10")
  val MinPasses = 2
  val Relational = "^(q\\d|agg_|join_|win_|set_|dq_).*".r

  def crc(k: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(k.getBytes("UTF-8"))
    c.getValue
  }

  def sample(keys: Set[String], n: Int): Seq[String] = keys.toSeq.sortBy(k => (crc(k), k)).take(n)

  /** n keys whose latencies spread like the population's: the keys,
    * sorted by recorded warm latency, split into n bins of equal size,
    * and from each bin the key first in CRC32 order. */
  def costSample(keys: Set[String], cost: Map[String, Double], n: Int): Seq[String] = {
    val missing = keys -- cost.keySet
    require(missing.isEmpty,
      s"no recorded cost for ${missing.toSeq.sorted.mkString(",")}; re-run measure_exclusions.py")
    val byCost = keys.toSeq.sortBy(k => (cost(k), k))
    val bins = math.min(n, byCost.size)
    (0 until bins).map { i =>
      byCost.slice(i * byCost.size / bins, (i + 1) * byCost.size / bins).minBy(k => (crc(k), k))
    }
  }

  /** The workload's timed keys and its set-up-only stream keys, from the
    * engine's own registries. `cost` is each key's warm latency on the
    * workload's tier. */
  def workloadKeys(workload: String, excluded: Set[String],
      cost: Map[String, Double]): (Seq[String], Seq[String]) = {
    val all = SparkEntry.queries.keySet
    val stream = Streams.queries.keySet
    val unknown = (stream ++ Bench.stagedReadKeys ++ excluded) -- all
    require(unknown.isEmpty, s"keys not in SparkEntry.queries: ${unknown.mkString(",")}")
    val population = workload match {
      case "sf01_warm" => all -- stream -- excluded
      case "x10_warm" => all.filter(Relational.matches) -- stream -- excluded
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val keys = costSample(population, cost, SampleSize(workload))
    require(keys.nonEmpty, s"workload $workload selects no keys")
    (keys.sorted, sample(stream -- excluded, SetupStreams(workload)))
  }

  /** A session with graft.Bench's confs on all of the box's cores. */
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  final case class Call(key: String, constructS: Double, planS: Double, execS: Double,
      rows: Long, builds: Long, error: Option[String], t0: Long, t1: Long, t2: Long, t3: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val dataDir = opt("data")
    val work = Paths.get(opt("work"))
    val excluded = opt.get("exclude").filter(_.nonEmpty).map(_.split(',').toSet).getOrElse(Set())
    val mapper = new ObjectMapper
    val cost = mapper.readTree(Paths.get(opt("costs")).toFile).get(Tier(workload))
      .fields.asScala.map(e => e.getKey -> e.getValue.asDouble).toMap
    val (sampled, streamKeys) = workloadKeys(workload, excluded, cost)
    val keys = new scala.util.Random(seed).shuffle(sampled)
    val stagedKeys = Bench.stagedReadKeys.toSet

    val cpus = Runtime.getRuntime.availableProcessors
    val sessionT0 = System.nanoTime()
    val spark = session()
    val sessionS = (System.nanoTime() - sessionT0) / 1e9
    val jvmToSessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sc = spark.sparkContext
    val epochMs0 = System.currentTimeMillis().toDouble
    val nano0 = System.nanoTime()
    def ms(nano: Long): Double = epochMs0 + (nano - nano0) / 1e6

    val probe = new Probe
    if (trace) {
      sc.addSparkListener(probe)
      spark.listenerManager.register(probe.qeListener)
      spark.streams.addListener(probe.streamListener)
    }

    // Staging roots start empty: every root path re-reads java.io.tmpdir.
    val roots = work.resolve("tmp").resolve("roots")
    Files.createDirectories(roots)
    System.setProperty("java.io.tmpdir", roots.toString)

    val queries = SparkEntry.queries
    def call(key: String): Call = {
      val fn = queries(key)
      val b0 = Staging.buildCount.get()
      probe.currentKey = key
      sc.setJobGroup(key, "construct")
      val t0 = System.nanoTime()
      var t1, t2 = t0
      try {
        val df = fn(spark, dataDir)
        t1 = System.nanoTime()
        sc.setJobGroup(key, "plan")
        val ds = df.groupBy().count()
        if (trace) probe.actionQe.put(ds.queryExecution, key)
        ds.queryExecution.executedPlan
        t2 = System.nanoTime()
        sc.setJobGroup(key, "exec")
        val rows = ds.collect().head.getLong(0)
        val t3 = System.nanoTime()
        System.err.println(f"[perfbench] key $key ${(t3 - t0) / 1e9}%.3f builds ${Staging.buildCount.get() - b0}")
        Call(key, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, rows,
          Staging.buildCount.get() - b0, None, t0, t1, t2, t3)
      } catch { case NonFatal(e) =>
        val t3 = System.nanoTime()
        System.err.println(s"[perfbench] $key failed: $e")
        Call(key, (t3 - t0) / 1e9, 0, 0, -1, Staging.buildCount.get() - b0,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), t0, t1, t2, t3)
      } finally sc.clearJobGroup()
    }

    val record = new JMap[String, Any]
    def jmap(kv: (String, Any)*): JMap[String, Any] = {
      val m = new JMap[String, Any]; kv.foreach { case (k, v) => m.put(k, v) }; m
    }
    // Writes the key's full result for the output check, the way
    // graft.Verify writes it; the write stands in for the action.
    val checkDir = work.resolve("check")
    val checkErrors = new JMap[String, Any]
    def write(key: String): Call = {
      val b0 = Staging.buildCount.get()
      probe.currentKey = key
      sc.setJobGroup(key, "construct")
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        val df = queries(key)(spark, dataDir)
        t1 = System.nanoTime()
        sc.setJobGroup(key, "exec")
        df.coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(key).toString)
      } catch { case NonFatal(e) =>
        checkErrors.put(key, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally sc.clearJobGroup()
      val t3 = System.nanoTime()
      System.err.println(f"[perfbench] setup $key ${(t3 - t0) / 1e9}%.3f")
      Call(key, (t1 - t0) / 1e9, 0, (t3 - t1) / 1e9, -1, Staging.buildCount.get() - b0,
        Option(checkErrors.get(key)).map(_.toString), t0, t1, t1, t3)
    }

    try {
      // Set-up: one untimed pass from empty staging roots that writes each
      // key's result for the output check. It builds the staged artifacts,
      // drains the set-up stream keys (checkpoints and state written from
      // scratch) and pays JIT and codegen warm-up (the first pass over
      // identical code takes about twice as long as the next).
      val setupB0 = Staging.buildCount.get()
      val setupCalls = (keys ++ streamKeys).map(write)
      val setupBuilds = Staging.buildCount.get() - setupB0
      val setupS =
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      val spans = new JList[Any]
      val streamStats = jmap("streams.drain_s" ->
        setupCalls.filter(c => streamKeys.contains(c.key)).map(_.constructS).sum)
      if (trace) {
        ListenerDrain(sc)
        probe.streamTotals.foreach { case (k, v) => streamStats.put(k, v) }
        setupCalls.foreach(c => probe.spans(c, 0, ms).foreach(spans.add))
      }
      // One more untimed pass on the timed code path: without it the
      // first timed pass ran up to 30% slower than the next (C2 still
      // compiling).
      keys.foreach(call)
      val calibS = if (trace) calibrate(spark, cpus) else Double.NaN

      val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      val jit = ManagementFactory.getCompilationMXBean
      def gcMs = gcBeans.map(_.getCollectionTime).sum
      val passes = new JList[Any]
      val runT0 = System.nanoTime()
      var lastPass = 0.0
      var passNo = 0
      while (passNo < MinPasses || (System.nanoTime() - runT0) / 1e9 + lastPass <= seconds) {
        passNo += 1
        ListenerDrain(sc)
        probe.reset()
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val f0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
        val h0 = HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount
        val jit0 = jit.getTotalCompilationTime
        val gc0 = gcMs
        val b0 = Staging.buildCount.get()
        val p0 = System.nanoTime()
        val calls = keys.map(call)
        val p1 = System.nanoTime()
        lastPass = (p1 - p0) / 1e9
        System.err.println(f"[perfbench] pass $passNo: $lastPass%.2f s")
        ListenerDrain(sc)
        val perKey = new JMap[String, Any]
        calls.foreach { c =>
          perKey.put(c.key, jmap("latency_s" -> (c.t3 - c.t0) / 1e9,
            "construct_s" -> c.constructS, "plan_s" -> c.planS, "exec_s" -> c.execS,
            "rows" -> c.rows, "builds" -> c.builds, "error" -> c.error.orNull))
        }
        val staged = calls.filter(c => stagedKeys(c.key))
        val layers = jmap(
          "construct.s" -> calls.map(_.constructS).sum,
          "catalyst.plan_s" -> calls.map(_.planS).sum,
          "exec.s" -> calls.map(_.execS).sum,
          "catalyst.codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0),
          "tables.files_discovered" -> (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - f0),
          "tables.file_cache_hits" -> (HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount - h0),
          "jvm.jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3,
          "exec.gc_s" -> (gcMs - gc0) / 1e3,
          "staging.builds" -> (Staging.buildCount.get() - b0),
          "staging.hit_frac" ->
            (if (staged.isEmpty) 1.0 else staged.count(_.builds == 0).toDouble / staged.size))
        if (trace) probe.passTotals(lastPass, cpus).foreach { case (k, v) => layers.put(k, v) }
        if (trace) calls.foreach(c => probe.spans(c, passNo, ms).foreach(spans.add))
        passes.add(jmap("wall_s" -> lastPass, "keys" -> perKey, "layers" -> layers))
      }
      val stagedAtEnd = stagedBytes(roots)

      val oracles = new JMap[String, Any]
      (keys ++ streamKeys).foreach(k => SparkEntry.oracleSql.get(k).foreach(oracles.put(k, _)))

      record.put("workload", workload)
      record.put("seed", seed)
      record.put("cpus", cpus)
      record.put("keys", new JList[Any](keys.asJava))
      record.put("setup_keys", new JList[Any](streamKeys.asJava))
      record.put("jvm_to_session_s", jvmToSessionS)
      record.put("session_s", sessionS)
      record.put("setup_s", setupS)
      record.put("setup_builds", setupBuilds)
      record.put("streams", streamStats)
      if (trace) record.put("calib_s", calibS)
      record.put("passes", passes)
      record.put("staged_bytes", stagedAtEnd)
      record.put("check_dir", checkDir.toString)
      record.put("check_errors", checkErrors)
      record.put("oracle_sql", oracles)
      if (trace) record.put("spans", spans)
      Files.writeString(Paths.get(opt("record")), mapper.writeValueAsString(record))
    } finally spark.stop()
  }

  /** graft.Bench's box-speed calibration: range -> xxhash64 -> one
    * codegen'd reduction, no I/O and no shuffle; one untimed JIT run. */
  def calibrate(spark: SparkSession, cpus: Int): Double = {
    def once(rows: Long): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, rows, 1L, cpus).selectExpr("bit_xor(xxhash64(id))").head()
      (System.nanoTime() - t0) / 1e9
    }
    once(10000000L)
    once(1500000000L)
  }

  /** Bytes under the engine's staging roots (`graft_*`) in `tmp`. */
  def stagedBytes(tmp: Path): Long =
    if (!Files.isDirectory(tmp)) 0L
    else {
      val roots = Files.list(tmp)
      try roots.iterator.asScala.filter(_.getFileName.toString.startsWith("graft_"))
        .map { r =>
          val s = Files.walk(r)
          try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
          finally s.close()
        }.sum
      finally roots.close()
    }

  /** Listener-side counters for the traced run, attributed to keys through
    * the job group the runner sets (stream micro-batch jobs through the
    * stream run id registered when the drain starts). */
  final class Probe extends SparkListener {
    @volatile var currentKey: String = ""
    val actionQe = new ConcurrentHashMap[QueryExecution, String]()
    private val streamRunKey = new ConcurrentHashMap[String, String]()
    private val stageOwner = new ConcurrentHashMap[Int, (String, String)]()
    final class Counts {
      var jobs, stages, tasks = 0L
      var runMs, inputB, shuffleWB, spillB, outputB = 0L
    }
    private val counts = new ConcurrentHashMap[(String, String), Counts]()
    private val jobSpans = new ConcurrentHashMap[Int, Array[Any]]()
    private val phases = new ConcurrentHashMap[String, Array[Double]]()
    private val batches = new ConcurrentHashMap[String, java.util.List[Array[Any]]]()
    private val queries = new ConcurrentHashMap[String, Integer]()

    /** Micro-batches and stream queries seen since the last reset. */
    def streamTotals: Seq[(String, Double)] = Seq(
      "streams.batches" -> batches.values.asScala.map(_.size).sum.toDouble,
      "streams.queries" -> queries.values.asScala.map(_.intValue).sum.toDouble)

    def reset(): Unit = {
      Seq(stageOwner, counts, jobSpans, phases, batches, queries).foreach(_.clear())
      actionQe.clear()
    }
    private def of(owner: (String, String)): Counts =
      counts.computeIfAbsent(owner, _ => new Counts)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val owner = Option(streamRunKey.get(group)).map(_ -> "stream").getOrElse(
        group -> props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
      e.stageIds.foreach(stageOwner.put(_, owner))
      of(owner).synchronized(of(owner).jobs += 1)
      jobSpans.put(e.jobId, Array(owner._1, owner._2, e.time.toDouble, Double.NaN))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.get(e.jobId)).foreach(_(3) = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOwner.get(e.stageInfo.stageId)).foreach { o =>
        val c = of(o); c.synchronized(c.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOwner.get(e.stageId)).zip(Option(e.taskMetrics)).foreach { case (o, m) =>
        val c = of(o)
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.inputB += m.inputMetrics.bytesRead
          c.shuffleWB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          c.outputB += m.outputMetrics.bytesWritten
        }
      }

    val qeListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
        Option(actionQe.remove(qe)).foreach { key =>
          val p = qe.tracker.phases
          def s(n: String) = p.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
          phases.put(key, Array(s("analysis"), s("optimization"), s("planning")))
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    val streamListener: StreamingQueryListener = new StreamingQueryListener {
      import StreamingQueryListener._
      // Called synchronously from start(), on the thread running the key.
      override def onQueryStarted(e: QueryStartedEvent): Unit = {
        streamRunKey.put(e.runId.toString, currentKey)
        queries.merge(currentKey, 1, (a: Integer, b: Integer) => a + b)
      }
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val key = streamRunKey.getOrDefault(p.runId.toString, "")
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
        batches.computeIfAbsent(key, _ => java.util.Collections.synchronizedList(
          new java.util.ArrayList[Array[Any]]())).add(Array(p.batchId, start, start + dur))
      }
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }

    /** Per-pass totals of the listener-side layer metrics. */
    def passTotals(wallS: Double, cpus: Int): Seq[(String, Double)] = {
      val all = counts.asScala.toSeq
      def sum(phase: String => Boolean)(f: Counts => Long): Double =
        all.collect { case ((_, p), c) if phase(p) => f(c) }.sum.toDouble
      val any = (_: String) => true
      val mb = 1024.0 * 1024.0
      val ph = phases.values.asScala.toSeq
      Seq(
        "construct.jobs" -> sum(_ == "construct")(_.jobs),
        "exec.jobs" -> sum(_ == "exec")(_.jobs),
        "exec.stages" -> sum(_ == "exec")(_.stages),
        "exec.tasks" -> sum(_ == "exec")(_.tasks),
        "exec.input_mb" -> sum(any)(_.inputB) / mb,
        "exec.shuffle_write_mb" -> sum(any)(_.shuffleWB) / mb,
        "exec.spill_mb" -> sum(any)(_.spillB) / mb,
        "exec.output_mb" -> sum(any)(_.outputB) / mb,
        "exec.core_util" -> sum(any)(_.runMs) / 1e3 / (wallS * cpus),
        "catalyst.analysis_s" -> ph.map(_(0)).sum,
        "catalyst.optimization_s" -> ph.map(_(1)).sum,
        "catalyst.planning_s" -> ph.map(_(2)).sum)
    }

    /** Spans of one key in one pass: the key, its construct / plan / exec
      * children, the jobs under the phase that launched them, and stream
      * micro-batches under construct (drains run there). Times in epoch ms. */
    def spans(c: Call, pass: Int, ms: Long => Double): Seq[JMap[String, Any]] = {
      def span(name: String, parent: String, start: Double, end: Double,
          attrs: (String, Any)*): JMap[String, Any] = {
        val m = new JMap[String, Any]
        m.put("id", c.key); m.put("pass", pass); m.put("name", name)
        m.put("parent", parent); m.put("start_ms", start); m.put("end_ms", end)
        attrs.foreach { case (k, v) => m.put(k, v) }
        m
      }
      val ph = Option(phases.get(c.key)).getOrElse(Array(0.0, 0.0, 0.0))
      val top = Seq(
        span("key", null, ms(c.t0), ms(c.t3), "rows" -> c.rows, "builds" -> c.builds),
        span("construct", "key", ms(c.t0), ms(c.t1)),
        span("plan", "key", ms(c.t1), ms(c.t2), "analysis_s" -> ph(0),
          "optimization_s" -> ph(1), "planning_s" -> ph(2)),
        span("exec", "key", ms(c.t2), ms(c.t3)))
      val jobs = jobSpans.asScala.toSeq.sortBy(_._1).collect {
        case (id, Array(k: String, phase: String, s: Double, e: Double)) if k == c.key =>
          val parent = if (phase == "stream") "construct" else phase
          span("job", parent, s, e, "job_id" -> id, "phase" -> phase)
      }
      val b = Option(batches.get(c.key)).map(_.asScala.toSeq).getOrElse(Nil).map {
        case Array(id, s: Double, e: Double) => span("batch", "construct", s, e, "batch_id" -> id)
      }
      top ++ jobs ++ b
    }
  }
}
