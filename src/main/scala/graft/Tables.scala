package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders for the driver-generated parquet test data.
  *
  * One parquet file per table per scale-factor directory (TESTDATA.md).
  * All access goes through here so the `events.ts` physical-type handling
  * is applied exactly once, and ADAPTIVELY: the driver has shipped this
  * column as both parquet TIMESTAMP(NANOS) (read as LongType nanos under
  * `spark.sql.legacy.parquet.nanosAsLong=true`) and, after a testdata
  * regeneration, native TIMESTAMP(MICROS) (read as TimestampNTZType).
  * Hard-coding either physical type broke the whole events surface when
  * the contract's physical layout drifted, so [[normalizeTs]] branches on
  * the FOOTER type that actually arrived and converges every variant to
  * the same logical column: microsecond TimestampType under the UTC
  * session this engine always runs with.
  */
object Tables {
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Converge `ts` to microsecond TimestampType regardless of the physical
    * type the parquet footer declared:
    *  - LongType (legacy nanos under nanosAsLong): integer `div 1000` then
    *    `timestamp_micros` — no double round-trip, which would lose
    *    precision above 2^53 ns;
    *  - TimestampNTZType (native µs, the current testdata): cast, which is
    *    value-identity under the UTC session timezone;
    *  - TimestampType already: pass through.
    * Works on batch and streaming frames alike (schema-only dispatch). */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType        => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _               => df
  }
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, table: String): String = s"$sfDir/$table.parquet"

  /** events with `ts` converged to TimestampType (microsecond precision),
    * whatever physical type the current testdata generation uses. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // conf BEFORE the (possibly memo-missed) read: schema inference for
    // legacy TIMESTAMP(NANOS) footers happens at construction time
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    memoizedRead(spark, path(sfDir, "events"), "events_norm")(p =>
      normalizeTs(spark.read.parquet(p)))
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else memoizedRead(spark, path(sfDir, name), "raw")(spark.read.parquet(_))

  /** Memoized source DataFrames, keyed (session, variant, path, source
    * fingerprint) — the r21 fixed-cost fix: every `spark.read.parquet`
    * construction pays a file-listing + footer-schema read measured at
    * ~50-105 ms per call (OPTIMIZATION_r21.md), and a bench pass
    * makes ~1500 `Tables.table` calls inside timed regions. The memo
    * caches the resolved source RELATION (a lazy plan — never rows or
    * results; every action still scans the parquet), exactly the
    * metadata-memo class `registeredViews`/`countMemo` above already
    * establish. The fingerprint key re-reads a regenerated file instead
    * of serving a stale relation; SoftReference values keep the memo
    * from pinning a dead session in memory (a DataFrame strongly
    * references its session — a plain WeakHashMap value would resurrect
    * its own key; soft refs drop under pressure and simply rebuild). */
  private val tableMemo =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[
          String, java.lang.ref.SoftReference[DataFrame]]]())
  private def memoizedRead(spark: SparkSession, p: String, variant: String)(
      build: String => DataFrame): DataFrame = {
    val fp =
      try sourceFingerprint(p)
      catch { // absent/unreadable source: unmemoized direct read, so the
              // caller sees the standard loud error (and a file that
              // appears later is never shadowed by a cached failure)
        case scala.util.control.NonFatal(_) => return build(p)
      }
    memoized(spark, variant + "|" + p + "|" + fp)(build(p))
  }

  /** Memoized read of a published artifact's parquet DIRECTORY (staged
    * derived relations, sink stores): same fixed-cost rationale as the
    * table memo above. */
  private[graft] def memoizedDirRead(spark: SparkSession,
                                     dirPath: String): DataFrame =
    memoizedSourceRead(spark, dirPath, "dir")(spark.read.parquet(_))

  /** The dir memo above generalized to a caller-supplied builder (r22):
    * the non-parquet source relations (CSV/XML/ORC/text/binaryFile/JDBC
    * over a published artifact dir) each pay their own per-construction
    * metadata cost — file listing (binaryFile: one entry per document),
    * footer-merge planning (mergeSchema), a JDBC bounds round-trip —
    * that is identical on every call against the same published-once
    * artifact. Staleness token = the artifact's publish nonce
    * ([[Staging.nonce]]): unique per publish, so a republished dir always
    * re-reads, however fast it was replaced. A dir without one (absent,
    * unreadable, not published) falls through to the direct read, so
    * errors stay loud and unmemoized. The builder must produce a LAZY
    * relation; bounded metadata lookups (partition bounds, derived
    * schemas) may run inside it — they are relation metadata, never row
    * data. */
  private[graft] def memoizedSourceRead(spark: SparkSession, dirPath: String,
      variant: String)(build: String => DataFrame): DataFrame =
    Staging.nonce(java.nio.file.Paths.get(dirPath)) match {
      case Some(n) =>
        memoized(spark, variant + "|" + dirPath + "|" + n)(build(dirPath))
      case None => build(dirPath)
    }

  private def memoized(spark: SparkSession, key: String)(
      build: => DataFrame): DataFrame = {
    val perSession = tableMemo.synchronized {
      var m = tableMemo.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[
          String, java.lang.ref.SoftReference[DataFrame]]()
        tableMemo.put(spark, m)
      }
      m
    }
    Option(perSession.get(key)).flatMap(r => Option(r.get)).getOrElse {
      val df = build
      perSession.put(key, new java.lang.ref.SoftReference(df))
      df
    }
  }

  /** Register every table as a temp view (for SQL-form queries).
    *
    * Registration is memoized per (session, data identity): each
    * `spark.read.parquet` pays a file-listing + footer-schema read, and
    * the half-dozen SQL-text keys each re-registering all ten tables was
    * ~0.5 s of pure fixed cost per query at bench SF. The memo key folds
    * in every source file's fingerprint, so a different sfDir or a
    * regenerated testdata tree re-registers instead of serving stale
    * views; temp views live in the session catalog, so the memo is keyed
    * by session identity too. */
  private val registeredViews =
    // weak keys (the SESSION OBJECT, not its identityHashCode — two live
    // sessions can collide on the 32-bit identity hash, and a colliding
    // second session would silently skip registration entirely): entries
    // die with their session instead of accumulating per session forever
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    val dataKey = sfDir + "|" +
      // a missing/unreadable source contributes a distinct placeholder
      // instead of throwing here: an eager fingerprint pass that dies on
      // ONE bad table would kill registration of the other nine views,
      // the exact failure mode the per-table loop below exists to stop
      // (and the key changes again once the file appears, so the memo
      // can never serve a partial tree as complete)
      names.map { n =>
        try sourceFingerprint(path(sfDir, n))
        catch { case scala.util.control.NonFatal(_) => "absent" }
      }.mkString(",")
    if (registeredViews.get(spark) != dataKey) {
      // Per-table isolation: one unreadable source must not take down the
      // other nine views (a single bad `events` footer killed EVERY
      // SQL-text key in round 7/8). A partial registration is NOT
      // memoized, so the failing table is retried — and stays loud — on
      // the next call instead of being silently absent for the session.
      var failed = List.empty[String]
      names.foreach { n =>
        try table(spark, sfDir, n).createOrReplaceTempView(n)
        catch { case scala.util.control.NonFatal(e) =>
          failed ::= n
          System.err.println(s"[tables] view '$n' failed to register: ${e.getMessage}")
          // Drop any PREVIOUS registration of this view: after a
          // mid-session testdata regeneration a surviving stale view
          // would silently serve OLD data to SQL keys — queries must
          // instead fail loudly with TABLE_OR_VIEW_NOT_FOUND until the
          // table registers again.
          try spark.catalog.dropTempView(n)
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
      if (failed.isEmpty) registeredViews.put(spark, dataKey)
    }
  }

  /** 48-bit staleness key for artifacts derived from a source file
    * (every [[Staging.Key]] built from a corpus table), so a regenerated
    * testdata tree always maps to a fresh name and can never be served
    * from a stale derivative. Fields are mixed POSITIONALLY (string hash
    * of "path:size:mtime"), not XORed — XOR lets a simultaneous
    * size+mtime change cancel out and collide with the old key. */
  def sourceFingerprint(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    fnv48(path + ":" + java.nio.file.Files.size(p) + ":" +
      java.nio.file.Files.getLastModifiedTime(p).toMillis)
  }

  /** FNV-1a 64-bit over an identity string, rendered as 48-bit hex:
    * every byte position shifts the accumulator, so any single-field
    * change always changes the key. The ONE fingerprint fold — shared by
    * [[sourceFingerprint]] and the publish-nonce keys of derived
    * artifacts ([[Staging.Key.derived]]). */
  private[graft] def fnv48(ident: String): String = {
    var h = 0xcbf29ce484222325L
    ident.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
    java.lang.Long.toHexString(h & 0xffffffffffffL)
  }

  /** Memoized row count of a parquet source. The count itself is
    * metadata-only (no row scan), but it still launches a job per call —
    * and callers that derive plan PARAMETERS from corpus size (the PQ
    * auto train stride) re-ask on every invocation. Keyed by the same
    * source fingerprint as every other derived value, so a regenerated
    * file re-counts instead of serving a stale size. */
  private val countMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def rowCount(spark: SparkSession, path: String): Long =
    countMemo.computeIfAbsent(sourceFingerprint(path),
      _ => spark.read.parquet(path).count())
}
