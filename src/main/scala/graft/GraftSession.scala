package graft

import org.apache.spark.sql.SparkSession

/** Library entry point for production use: a SparkSession.Builder
  * pre-loaded with the engine's recommended cluster defaults and the
  * graft SQL extensions, so `SELECT graft_cosine(a, b)` and every
  * `SparkEntry.queries` operator work out of the box.
  *
  * The defaults encode the 100 TB tuning stance (SURVEY §7.6):
  *  - AQE on with skew-join splitting: runtime re-plan absorbs stats
  *    drift and hot keys that static planning can't see;
  *  - 256 MiB scan partitions: big enough to amortize task overhead at
  *    100 TB (≈400k tasks), small enough to fit executor memory with
  *    room for shuffle spill structures;
  *  - parquet TIMESTAMP(NANOS) read as long (the `events.ts` contract —
  *    Tables.events converts to microsecond timestamps);
  *  - UTC session timezone: date_trunc/window results must not depend on
  *    cluster locale.
  *
  * `shufflePartitions` should be ≈ 2-3× total executor cores on a real
  * cluster (AQE coalesces down from there).
  *
  * `local` is the one session factory for the local harnesses (Bench,
  * Verify, Smoke, Explain, the tools, the test suite). A harness that
  * needs AQE off or a `graft.*` flag sets it with `spark.conf.set` after
  * building the session.
  */
object GraftSession {
  /** The recommended conf set, exposed as data so tests can assert it
    * without building a session against a live shared SparkContext
    * (getOrCreate on a running context silently drops static confs like
    * spark.sql.extensions and mutates the existing session's modifiable
    * ones — a test doing that proves nothing and leaks settings). */
  def recommended(shufflePartitions: Int = 200): Seq[(String, String)] = Seq(
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "268435456",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  def builder(shufflePartitions: Int = 200): SparkSession.Builder =
    configured(recommended(shufflePartitions))

  /** Core count for the local harnesses: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** The local harness conf set, as data for the same reason as
    * `recommended`. Shuffle partitions = cores. The whole-stage-codegen
    * compile cache (static conf, default 100 entries) is raised to 4096:
    * a 293-query pass generates far more codegen units than 100, so
    * every entry would be evicted before the next pass and Janino would
    * re-compile each stage (~10-30 ms per unit) on every pass. The bound
    * depends on the query count, not on scale or cores. */
  def localConfs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC")

  def local(cpus: Int): SparkSession = {
    val spark = configured(localConfs(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def configured(confs: Seq[(String, String)]): SparkSession.Builder =
    confs.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }
}
