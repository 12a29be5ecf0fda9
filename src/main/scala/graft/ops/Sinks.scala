package graft.ops

import graft.{D, Tables}
import graft.QueryDefs.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.1 sink surface, declared END-TO-END: the classic ETL date
  * layout — `events` written `partitionBy(day)` once per corpus version,
  * then read back through a PARTITION filter so only one day's directory
  * is listed and scanned. The csv/json/ORC sink roundtrips stay internal
  * (SinkRoundtripSpec); this is the one sink shape whose READ side has
  * plan-level semantics worth declaring: at 100 TB the day predicate
  * prunes file listing to 1/365th of the lake before a single row is
  * read, which no post-scan filter can do. PlanAuditSpec asserts the
  * predicate lands in the scan's `PartitionFilters`, not in a Filter node.
  */
object Sinks {

  /** Publish-once sink artifact built from corpus table `table` of
    * `dir` ([[graft.Staging.publish]]: atomic, `_SUCCESS`-gated, swept). */
  private def publishSink(dir: String, table: String, tag: String)
                         (write: java.nio.file.Path => Unit): String =
    graft.Staging.publish(graft.Staging.SinkRoot,
      graft.Staging.Key(Tables.path(dir, table), tag))(write).toString

  /** [[publishSink]] for an artifact DERIVED FROM ANOTHER ARTIFACT
    * (delete from store, vacuum from littered, compaction from
    * fragmented): keyed by the INPUT artifact's publish nonce, not the
    * raw corpus. Keying off the corpus left the pair INDEPENDENTLY
    * rebuildable, and a partial reclaim (r15) produced a mixed-generation
    * pair whose byte-identity laws then failed. With the input's nonce in
    * the key, a rebuilt input re-keys — and therefore rebuilds — every
    * downstream artifact; the stranded old-key entries are swept once
    * their input is gone. Every chain here derives from `events`. */
  private def publishDerived(dir: String, input: String, tag: String)
                            (write: java.nio.file.Path => Unit): String =
    graft.Staging.publish(graft.Staging.SinkRoot, graft.Staging.Key
      .derived(Tables.path(dir, "events"), input, tag))(write).toString

  /** Day-partitioned events sink, written once per MACHINE + corpus
    * version. NOT gated by `graft.staging`: the partitioned files ARE this
    * operator's semantics — a plan-only consumer still needs a real
    * directory to plan the partition-pruned scan against. */
  def ensurePartitionedEvents(s: SparkSession, dir: String): String =
    publishSink(dir, "events", "events_byday_v1") { tmp =>
      Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
        .write.partitionBy("day").mode("overwrite").parquet(tmp.toString)
    }

  /** Day-partitioned events store with a DYNAMIC PARTITION OVERWRITE
    * applied on top (round 17): the base write lands every day, then a
    * restatement delta — the ~day-of-month %7=3 days, deduped to
    * event_id % 3 ≠ 0 — is written `mode(overwrite)` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic` (Scoped child
    * session — the conf must be live AT WRITE TIME, and setting it on
    * the shared session would leak into every later overwrite in the
    * JVM). Dynamic mode replaces ONLY the delta's partitions; static
    * mode — the classic footgun this key exists to pin — would wipe
    * every untouched day. At 100 TB this is the nightly restatement
    * pattern: rewrite bytes ∝ restated days, never the table. */
  def ensureDynOverwriteEvents(s: SparkSession, dir: String): String =
    publishSink(dir, "events", "events_dynoverwrite_v1") { tmp =>
      val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
      ev.write.partitionBy("day").mode("overwrite").parquet(tmp.toString)
      val child = graft.Scoped.session(s, "dynOverwrite",
        Seq("spark.sql.sources.partitionOverwriteMode" -> "dynamic"))
      Tables.events(child, dir).withColumn("day", to_date(col("ts")))
        .where(dayofmonth(col("day")) % 7 === 3)
        .where(col("event_id") % 3 =!= 0)
        .write.partitionBy("day").mode("overwrite").parquet(tmp.toString)
    }

  /** Two schema-evolved generations of `orders` under one parent dir —
    * v1 wrote (o_orderkey, o_totalprice); v2 added `o_orderstatus` (the
    * classic additive column evolution). Split is `o_orderkey % 2` so
    * the DuckDB oracle can replay which rows lack the late column
    * without reading our files. */
  def ensureEvolvedOrders(s: SparkSession, dir: String): String =
    publishSink(dir, "orders", "orders_evolved_v1") { tmp =>
      val o = Tables.table(s, dir, "orders")
      o.where(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.parquet(s"$tmp/gen1")
      o.where(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.parquet(s"$tmp/gen2")
    }

  /** Columns `orders` round-trips through the ORC and Derby JDBC sources
    * (everything but the CSV key's synthetic quoted column): plain typed
    * columns — ints, doubles, strings and a timestamp, the shapes a
    * warehouse table actually carries and text sources degrade to
    * strings. */
  private val typedOrderCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")

  /** `orders` re-written as ORC — the second columnar lake format a real
    * ingest surface must read (Hive-era lakes are ORC). Written once per
    * corpus version like the CSV artifact. */
  def ensureOrcOrders(s: SparkSession, dir: String): String =
    publishSink(dir, "orders", "orders_orc_v1") { tmp =>
      Tables.table(s, dir, "orders")
        .select(typedOrderCols.map(col): _*)
        .write.mode("overwrite").orc(tmp.toString)
    }

  /** `documents` re-written as raw line-oriented text (`doc_id<TAB>text`,
    * one document per line — the web-crawl / log-dump shape
    * `spark.read.text` exists for; corpus text is single-line and
    * tab-free by construction, so line ⇔ document exactly). Written once
    * per corpus version like the CSV/ORC artifacts. */
  def ensureTextDocs(s: SparkSession, dir: String): String =
    publishSink(dir, "documents", "documents_txt_v1") { tmp =>
      // NULL text must fail the WRITE loudly (r12 ADVICE): concat_ws
      // silently skips NULLs, so a NULL document would emit a tab-less
      // doc_id-only line whose NULL payload then md5-matches the oracle's
      // md5(NULL) — a data-loss case round-tripping as a silent pass.
      Tables.table(s, dir, "documents")
        .select(concat_ws("\t", col("doc_id"),
          when(col("text").isNotNull, col("text"))
            .otherwise(raise_error(concat(
              lit("source_text: NULL text for doc_id "),
              col("doc_id").cast("string"))))).as("value"))
        .write.mode("overwrite").text(tmp.toString)
    }

  /** `documents` laid out as ONE RAW BINARY FILE PER DOCUMENT
    * (`<doc_id>.bin`, UTF-8 text bytes) — the object-store layout image/
    * audio/video corpora actually arrive in, and the shape
    * `spark.read.format("binaryFile")` exists to ingest. The writer is a
    * per-partition imperative loop because Spark has no one-file-per-row
    * writer — exactly the sink shape a real media exporter uses (each
    * task writes its partition's files; no shuffle, no driver loop).
    * Written once per corpus version like the CSV/ORC/text artifacts. */
  def ensureBinaryDocs(s: SparkSession, dir: String): String =
    publishSink(dir, "documents", "documents_bin_v1") { tmp =>
      java.nio.file.Files.createDirectories(tmp)
      val base = tmp.toString
      Tables.table(s, dir, "documents").select("doc_id", "text")
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            // NULL text must fail the WRITE loudly (the source_text
            // contract): an empty .bin file would md5-match nothing and
            // surface as a confusing hash mismatch rows later.
            require(!r.isNullAt(1),
              s"source_binary: NULL text for doc_id ${r.getLong(0)}")
            java.nio.file.Files.write(
              java.nio.file.Paths.get(base, s"${r.getLong(0)}.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
    }

  /** `orders` staged into an EMBEDDED DERBY database once per corpus
    * version — the JDBC ingest surface (`/opt/spark/jars` ships the
    * derby embedded engine; every other RDBMS driver is absent under
    * zero egress, and the JDBC read path is driver-agnostic anyway).
    * The database directory is published with the same fingerprint-keyed
    * atomic-rename discipline as the file sinks; the engine is shut down
    * before the rename so quiesced files move, and each reader JVM
    * re-boots the moved copy on first connection. The write is a single
    * batched-insert connection (a one-time staging load — parallel
    * inserts into an embedded store only add lock traffic). */
  def ensureJdbcOrders(s: SparkSession, dir: String): String =
    publishSink(dir, "orders", "orders_derby_v1") { tmp =>
      // Derby writes derby.log relative to derby.system.home (defaults
      // to cwd, which may be read-only) — pin it into the artifact dir.
      System.setProperty("derby.stream.error.file",
        tmp.resolve("derby.log").toString)
      val db = tmp.resolve("db").toString
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      Tables.table(s, dir, "orders")
        .select(typedOrderCols.map(col): _*)
        .coalesce(1)
        .write.mode("overwrite")
        .jdbc(s"jdbc:derby:$db;create=true", "orders", props)
      // Quiesce before the publish rename: a clean shutdown signals
      // SUCCESS via SQLException 08006 by JDBC-driver convention.
      try {
        java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")
        ()
      } catch { case _: java.sql.SQLException => () }
    }

  /** `orders` re-written as header'd CSV — the delimited-text source
    * surface. The `tag` column embeds a comma so the roundtrip exercises
    * quoting, not just tokenization. */
  def ensureCsvOrders(s: SparkSession, dir: String): String =
    publishSink(dir, "orders", "orders_csv_v1") { tmp =>
      Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          concat_ws(",", col("o_orderpriority"), col("o_orderstatus"))
            .as("tag"))
        .write.option("header", "true").mode("overwrite").csv(tmp.toString)
    }

  /** Rows-per-file target for the compaction rewrite. Small enough that
    * sf0.1 still splits days into several files (the ceil(n/R) law stays
    * observable), large enough that every SF compacts 8 → few. */
  private[graft] val CompactRowsPerFile = 1000

  /** The fragmented "as streaming ingest left it" state: day-partitioned
    * events where every micro-batch-like writer task (8 of them) dropped
    * its own small file into each day directory — the small-file problem
    * a lakehouse OPTIMIZE job exists to fix. */
  def ensureFragmentedEvents(s: SparkSession, dir: String): String =
    publishSink(dir, "events", "events_frag_v1") { tmp =>
      Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
        .repartition(8, col("event_id"))
        .write.partitionBy("day").mode("overwrite").parquet(tmp.toString)
    }

  /** The compaction rewrite (OPTIMIZE): route each day to one task
    * (repartition by the partition column), write with maxRecordsPerFile
    * so every day directory holds exactly ⌈n_day/R⌉ bin-packed files —
    * a per-day-proportional rewrite (touched partitions only, in a real
    * lake), never a global shuffle of untouched data. sortWithin makes
    * file contents deterministic, not just counts. */
  def ensureCompactedEvents(s: SparkSession, dir: String): String = {
    val fragRoot = ensureFragmentedEvents(s, dir)
    publishDerived(dir, fragRoot, "events_compact_v1") { tmp =>
      s.read.parquet(fragRoot)
        .repartition(col("day"))
        .sortWithinPartitions("day", "event_id")
        .write.option("maxRecordsPerFile", CompactRowsPerFile.toLong)
        .partitionBy("day").mode("overwrite").parquet(tmp.toString)
    }
  }

  private[graft] val RetBuckets = 16

  /** The forget-set predicate (the "deletion request list"): every 37th
    * user. Pure function of user_id so the DuckDB oracle replays it.
    * `%` (Remainder, sign-of-dividend), NOT pmod: the oracle SQL uses
    * DuckDB's `%`, and the two only agree for non-negative user_id —
    * the r14 ADVICE flagged that a future corpus with negative ids
    * would silently diverge under pmod. Same operator on both engines
    * closes that class; values are identical on the current corpus. */
  private def isForget: org.apache.spark.sql.Column =
    (col("user_id") % 37) === 3

  /** Subject-aware retention store: events partitioned by (day,
    * user_id mod 16). Clustering by data-subject bounds delete
    * amplification — a forget request touches only its own buckets, not
    * every file of every day. repartition on the partition pair routes
    * each cell to exactly one task → exactly one file per cell
    * (the files_after law); sortWithinPartitions makes file CONTENT
    * deterministic so the CoW byte-identity check is meaningful. */
  def ensureRetentionStore(s: SparkSession, dir: String): String =
    publishSink(dir, "events", "events_ret_store_v1") { tmp =>
      Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
        // `%` not pmod, same reasoning as isForget (oracle replays
        // user_id % 16 with DuckDB's sign-of-dividend semantics)
        .withColumn("bkt", (col("user_id") % RetBuckets).cast("int"))
        .repartition(col("day"), col("bkt"))
        .sortWithinPartitions("day", "bkt", "event_id")
        .write.partitionBy("day", "bkt").mode("overwrite")
        .parquet(tmp.toString)
    }

  /** Copy-on-write delete of the forget-set from the retention store:
    *  1. the touched-cell list = distinct (day, bkt) of forget rows — a
    *     bounded manifest-scale collect (≤ days × 16 entries; at 100 TB
    *     this is the table-format manifest diff, which is driver-side in
    *     real lakehouses too);
    *  2. touched cells are re-read (static partition pruning: the isin
    *     filters on the two partition columns prune to the touched
    *     day×bkt superset before any row is read), anti-filtered, and
    *     rewritten one file per cell;
    *  3. every untouched cell's files are carried over BYTE-IDENTICAL
    *     (filesystem copy here; a manifest pointer in a real lake).
    * A touched cell whose every row was a forget row simply vanishes —
    * files_after counts survivors' buckets, which the oracle replays. */
  /** The touched-cell manifest of a copy-on-write commit: distinct
    * (day, bkt) cells holding a row the commit's predicate marks —
    * the bounded driver-side collect every table format does as a
    * manifest diff (≤ days×16). Shared by the delete and upsert commits
    * (r16 review: was copy-pasted). */
  private def touchedCells(store: DataFrame,
                           pred: Column): Set[(String, Int)] =
    store.where(pred)
      .select(col("day").cast("string"), col("bkt"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet

  /** The touched cells' rows, partition-pruned: day/bkt isin filters
    * reach the scan (PlanAuditSpec asserts them), then the composite
    * cellKey filter cuts the isin cross-product back to exactly the
    * touched set. */
  private def prunedCellRows(store: DataFrame,
                             touched: Set[(String, Int)]): DataFrame = {
    val cellKey = concat_ws("#", col("day").cast("string"),
      col("bkt").cast("string"))
    store
      .where(col("day").isin(
          touched.map(_._1).toSeq.map(java.sql.Date.valueOf): _*) &&
        col("bkt").isin(touched.map(_._2).toSeq: _*))
      .where(cellKey.isin(touched.map(t => s"${t._1}#${t._2}").toSeq: _*))
  }

  /** The rows of the cells two published versions of a store disagree
    * on, read from each version: the changed cells are the manifest diff
    * ([[cellManifest]]; carried-over cells match file for file), and both
    * reads are partition-pruned to them ([[prunedCellRows]]), so a change
    * feed's work is proportional to the rewritten data, never the table. */
  private def changedCellRows(s: SparkSession, aRoot: String, bRoot: String,
                              cols: String*): (DataFrame, DataFrame) = {
    val ma = cellManifest(java.nio.file.Paths.get(aRoot))
    val mb = cellManifest(java.nio.file.Paths.get(bRoot))
    val changed = (ma.keySet ++ mb.keySet).filter(c => ma.get(c) != mb.get(c))
    def rows(root: String) =
      prunedCellRows(graft.Tables.memoizedDirRead(s, root), changed)
        .select(cols.map(col): _*)
    (rows(aRoot), rows(bRoot))
  }

  /** One-file-per-cell rewrite of a commit's surviving rows. */
  private def writeCells(df: DataFrame, tmp: java.nio.file.Path): Unit =
    df.repartition(col("day"), col("bkt"))
      .sortWithinPartitions("day", "bkt", "event_id")
      .write.partitionBy("day", "bkt").mode("overwrite")
      .parquet(tmp.toString)

  /** Carry untouched cells over byte-identical. Streams are closed
    * (fd leak otherwise — Bench/ScaleProbe rebuild this in long-lived
    * JVMs), and the bkt= parse runs only AFTER the prefix guard so a
    * stray marker file under a day directory can't abort the publish
    * with a NumberFormatException (r14 review findings). */
  private def copyUntouchedCells(srcRoot: String, tmp: java.nio.file.Path,
                                 touched: Set[(String, Int)]): Unit = {
    import java.nio.file.{Files, Paths}
    listUnder(Paths.get(srcRoot))(_.foreach { dayDir =>
      val dn = dayDir.getFileName.toString
      if (dn.startsWith("day=")) {
        listUnder(dayDir)(_.foreach { bktDir =>
          val bn = bktDir.getFileName.toString
          if (bn.startsWith("bkt=")) {
            val cell = (dn.stripPrefix("day="),
              bn.stripPrefix("bkt=").toInt)
            if (!touched.contains(cell)) {
              val dst = tmp.resolve(dn).resolve(bn)
              Files.createDirectories(dst)
              listUnder(bktDir)(_.foreach { f =>
                Files.copy(f, dst.resolve(f.getFileName.toString)); ()
              })
            }
          }
        })
      }
    })
  }

  def ensureDeletedStore(s: SparkSession, dir: String): String = {
    val storeRoot = ensureRetentionStore(s, dir)
    publishDerived(dir, storeRoot, "events_ret_del_v1") { tmp =>
      val store = s.read.parquet(storeRoot)
      val touched = touchedCells(store, isForget)
      writeCells(prunedCellRows(store, touched).where(!isForget), tmp)
      copyUntouchedCells(storeRoot, tmp, touched)
    }
  }

  /** The v2 MERGE commit on top of the deleted store (r15 verdict item 2:
    * the delete-only commit left CDF's insert leg structurally computed
    * but pinned EMPTY — this commit makes all three change types carry
    * rows). Merge rules are PURE FUNCTIONS of the raw corpus so DuckDB
    * can replay the change sets without reading either version:
    *  - DELETE  rows with user_id % 37 = 7 (a second forget class);
    *  - UPDATE  rows with user_id % 37 = 5 → value := 999.99 (a constant,
    *    not arithmetic on the old double — (v+1)*100 vs v*100+100 round
    *    differently at half-cent boundaries, a constant can't);
    *  - INSERT  a twin of every surviving row with event_id % 97 = 11:
    *    event_id + UpsOffset (far beyond any corpus id), value 111.11,
    *    same user/day — so the twin lands in its source's (day, bkt)
    *    cell and never widens the touched-cell set.
    * Same copy-on-write discipline as the delete: only touched cells are
    * re-read (partition-pruned) and rewritten; untouched cells carry over
    * byte-identical. */
  private[graft] val UpsOffset = 1000000000000L
  private def isDelV2 = col("user_id") % 37 === 7
  private def isUpdV2 = col("user_id") % 37 === 5
  private def isTwinV2 = col("event_id") % 97 === 11 && !(col("user_id") % 37 === 7)
  def ensureUpsertedStore(s: SparkSession, dir: String): String = {
    val v1Root = ensureDeletedStore(s, dir)
    publishDerived(dir, v1Root, "events_ret_ups_v1") { tmp =>
      val v1 = s.read.parquet(v1Root)
      val touched = touchedCells(v1, isDelV2 || isUpdV2 || isTwinV2)
      val cellRows = prunedCellRows(v1, touched)
      val survivors = cellRows.where(!isDelV2)
        .withColumn("value", when(isUpdV2, lit(999.99)).otherwise(col("value")))
      val inserts = cellRows.where(isTwinV2)
        .withColumn("event_id", col("event_id") + lit(UpsOffset))
        .withColumn("value", lit(111.11))
      writeCells(survivors.unionByName(inserts), tmp)
      copyUntouchedCells(v1Root, tmp, touched)
    }
  }

  /** Failed-writer leftovers per day directory: 1 + dayOfMonth % 3
    * hidden `.part-orphan-*.tmp` files — the uncommitted temp debris a
    * crashed task attempt strands. Hidden names (dot/underscore) are
    * exactly what Spark's readers already IGNORE, which is the point:
    * orphans cost storage and listing time, never correctness — so
    * VACUUM's law is byte-identity of everything kept plus removal of
    * exactly the debris, and the planted count is a pure function of
    * the day (oracle-replayable). */
  private def orphansFor(day: String): Int =
    1 + day.substring(8, 10).toInt % 3

  /** The retention store with planted failed-writer debris — the input a
    * real VACUUM faces. Hidden files are invisible to Spark reads
    * (SinkVacuumSpec asserts the littered and clean stores read back
    * identically), so this artifact is also the live demonstration that
    * orphans are a storage problem, not a correctness one. */
  def ensureLitteredStore(s: SparkSession, dir: String): String = {
    val store = ensureRetentionStore(s, dir)
    publishDerived(dir, store, "events_ret_lit_v1") { tmp =>
      import java.nio.file.{Files, Paths}
      copyTree(Paths.get(store), tmp)
      listUnder(tmp) { it => it.foreach { dayDir =>
        val dn = dayDir.getFileName.toString
        if (dn.startsWith("day=")) {
          val day = dn.stripPrefix("day=")
          for (i <- 0 until orphansFor(day))
            Files.write(dayDir.resolve(s".part-orphan-$i.tmp"),
              s"uncommitted $day $i".getBytes("UTF-8"))
        }
      } }
    }
  }

  /** VACUUM: the littered store with every UNREFERENCED object removed —
    * the real vacuum rule is manifest reachability, which on a plain
    * filesystem means: keep visible (committed) files, keep the
    * `_SUCCESS` commit marker, keep a hidden `.x.crc` checksum only when
    * its partner `x` is itself kept (Hadoop's paired metadata travels
    * with its file), drop everything else — the planted
    * `.part-orphan-*.tmp` debris has no living partner and goes, as
    * would a crashed attempt's `_temporary` directory. Kept files are
    * carried over BYTE-IDENTICAL (copy here; a manifest rewrite in a
    * real lake). */
  def ensureVacuumedStore(s: SparkSession, dir: String): String = {
    val lit = ensureLitteredStore(s, dir)
    publishDerived(dir, lit, "events_ret_vac_v1") { tmp =>
      vacuumCopy(java.nio.file.Paths.get(lit), tmp)
    }
  }

  private def hiddenName(n: String) = n.startsWith(".") || n.startsWith("_")

  private def vacuumCopy(src: java.nio.file.Path,
                         dst: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    Files.createDirectories(dst)
    val entries = listUnder(src)(_.toVector)
    val names = entries.map(_.getFileName.toString)
    val committed = names.filterNot(hiddenName).toSet + "_SUCCESS"
    entries.foreach { p =>
      val name = p.getFileName.toString
      val keep = committed(name) ||
        (name.startsWith(".") && name.endsWith(".crc") &&
          committed(name.stripPrefix(".").stripSuffix(".crc")))
      if (Files.isDirectory(p)) {
        // hidden directories (a crashed attempt's _temporary) are junk
        if (!hiddenName(name)) vacuumCopy(p, dst.resolve(name))
      } else if (keep) { Files.copy(p, dst.resolve(name)); () }
    }
  }

  /** Recursive full copy. Streams closed (the sink_delete fd-leak
    * lesson). */
  private def copyTree(src: java.nio.file.Path,
                       dst: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    Files.createDirectories(dst)
    listUnder(src) { it => it.foreach { p =>
      val name = p.getFileName.toString
      if (Files.isDirectory(p)) copyTree(p, dst.resolve(name))
      else { Files.copy(p, dst.resolve(name)); () }
    } }
  }

  private def listUnder[A](p: java.nio.file.Path)(
      f: Iterator[java.nio.file.Path] => A): A = {
    val st = java.nio.file.Files.list(p)
    try f(scala.jdk.CollectionConverters.IteratorHasAsScala(
      st.iterator()).asScala)
    finally st.close()
  }

  /** Orders staged as XML (Spark 4 ships the data source built in) —
    * the B2B/legacy-feed ingest format. One row element per order;
    * timestamps carried as ISO strings so the read-back parse is
    * explicit, not writer-dependent. */
  def ensureXmlOrders(s: SparkSession, dir: String): String =
    publishSink(dir, "orders", "orders_xml_v1") { tmp =>
      Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
            .as("o_odate"))
        .write.option("rootTag", "orders").option("rowTag", "order")
        .format("xml").mode("overwrite").save(tmp.toString)
    }

  /** Morton (Z-order) interleave of the low 16 bits of two keys — the
    * space-filling curve OPTIMIZE ZORDER clusters files by. The 32 bit
    * positions are disjoint, so the per-bit terms sum without carries,
    * and the whole value is one codegen'd long expression (shift/and
    * only — no UDF, no loop at runtime). */
  private def morton16(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  private[graft] val ZBuckets = 64

  /** lineitem rewritten in Z-order on (l_partkey, l_suppkey) — the
    * multi-dimensional clustering that makes min/max data skipping work
    * for BOTH keys at once (a single-column sort serves one predicate;
    * the curve serves either). Each dimension is NORMALIZED to the full
    * 16-bit width before interleaving (key·2¹⁶ div (max+1), maxes from a
    * 1-row broadcast) — raw interleave of asymmetric key ranges
    * degenerates toward a single-column sort because the wider key owns
    * every high curve bit (measured here: suppkey extents were ~0.75 of
    * range unscaled, 0.125 scaled). Bucket = fixed-width slice of the
    * curve, width derived from max(zv) by the same 1-row broadcast
    * pattern (no driver state), so file assignment is a pure function of
    * the row — deterministic across core counts, unlike range-sampled
    * boundaries. One shuffle on the target bucket (per-bucket-
    * proportional, the OPTIMIZE posture); sortWithinPartitions puts rows
    * in curve order INSIDE each file so row-group stats are tight too. */
  def ensureZorderLineitem(s: SparkSession, dir: String): String =
    publishSink(dir, "lineitem", "lineitem_zorder_v2") { tmp =>
      val li0 = Tables.table(s, dir, "lineitem")
      val m = li0.agg((max("l_partkey") + 1).as("mp"),
        (max("l_suppkey") + 1).as("ms"))
      val li = li0.crossJoin(broadcast(m))
        .withColumn("zv", morton16(
          D.intDiv(col("l_partkey") * 65536L, col("mp")),
          D.intDiv(col("l_suppkey") * 65536L, col("ms"))))
        .drop("mp", "ms")
      val w = li.agg((floor(max("zv") / ZBuckets) + 1).cast("long").as("w"))
      li.crossJoin(broadcast(w))
        .withColumn("zb", D.intDiv(col("zv"), col("w")))
        .drop("w")
        .repartition(col("zb"))
        .sortWithinPartitions("zb", "zv", "l_orderkey", "l_linenumber")
        .write.partitionBy("zb").mode("overwrite").parquet(tmp.toString)
    }

  val queries: Map[String, Q] = Map(
    // Schema evolution across file generations — the ETL reality a 100 TB
    // lake accumulates: a column added later must read back as NULL for
    // old files, with one reconciled schema. mergeSchema unions the
    // per-file footers at planning time; no data rewrite.
    "source_merge_schema" -> ((s, dir) => {
      // relation memo (r22, the r21 dir-memo class): the footer-merge
      // planning re-ran per construction against the publish-once store
      graft.Tables.memoizedSourceRead(s, ensureEvolvedOrders(s, dir),
        "merge")(r => s.read.option("mergeSchema", "true")
          .parquet(s"$r/gen1", s"$r/gen2"))
        .select(col("o_orderkey"), col("o_totalprice").as("total"),
          col("o_orderstatus").as("st"))
        .orderBy("o_orderkey")
    }),

    // Partitioned sink + partition-pruned read: write events by day (once
    // per corpus version), read ONE day back through a literal partition
    // predicate, aggregate per type. The day literal is the corpus's
    // first day, fetched with a one-row bounded collect (partition-value
    // metadata, same pattern as the ANN centroid collects) so the filter
    // is a LITERAL — which is what static partition pruning requires.
    "sink_partitioned" -> ((s, dir) => {
      val sunk = graft.Tables.memoizedDirRead(s, ensurePartitionedEvents(s, dir))
      val d0 = sunk.agg(min("day")).head().getDate(0)
      sunk.where(col("day") === lit(d0))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), D.r2(sum("value")).as("sum_value"))
        // day emitted as TIMESTAMP, not DATE — same representation-drift
        // guard as scan_events_ns.
        .select(lit(d0).cast("timestamp").as("day"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("event_type")
    }),

    // Dynamic partition overwrite (round 17) — INSERT OVERWRITE's
    // partition-scoped form, the nightly-restatement op every
    // day-partitioned warehouse runs. The declared output reads the
    // post-overwrite store: restated days (%7=3) must carry exactly the
    // deduped delta, untouched days the full corpus — and the fact that
    // untouched days EXIST AT ALL is the dynamic-vs-static distinction
    // (static mode wipes them; SinkRoundtripSpec pins the day-count
    // causality). Oracle replays both halves from raw events.
    // `restated` = targeted AND the delta actually wrote rows (r17
    // ADVICE): a %7=3 day whose delta filtered to nothing kept its full
    // base partition (the empty-delta carve-out), and flagging it
    // restated would claim a rewrite that never happened. Delta
    // presence is read off the survivors themselves — a truly restated
    // day's rows ARE the delta (all event_id % 3 ≠ 0), an untouched
    // targeted day kept only base rows (all % 3 = 0) — so the flag is
    // one more conditional count in the same aggregate, no extra scan.
    "sink_overwrite_dynamic" -> ((s, dir) => {
      val sunk = graft.Tables.memoizedDirRead(s, ensureDynOverwriteEvents(s, dir))
      sunk.groupBy(col("day"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"),
          count(when(col("event_id") % 3 =!= 0, 1)).as("nd"))
        .select(col("day").cast("timestamp").as("day"), col("n"),
          col("cents"),
          (dayofmonth(col("day")) % 7 === 3 && col("nd") > 0)
            .as("restated"))
        .orderBy("day")
    }),

    // Small-file compaction (lakehouse OPTIMIZE) as a declared key: the
    // fragmented artifact (8 writer files per day) is rewritten to
    // ⌈n_day/R⌉ bin-packed files per day. The declared output proves BOTH
    // halves: the per-day aggregate equals the raw corpus (the rewrite
    // lost nothing — the oracle computes it from `events` directly), and
    // files_after — counted from the compacted artifact itself via
    // input_file_name() — equals the ⌈n/R⌉ law the oracle replays in
    // SQL. SinkRoundtripSpec asserts the "before" side (fragmented dir
    // really is multi-file per day, strictly more files than after).
    "sink_compaction" -> ((s, dir) => {
      val c = graft.Tables.memoizedDirRead(s, ensureCompactedEvents(s, dir))
        .withColumn("f", input_file_name())
      c.groupBy(col("day"))
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"),
          countDistinct(col("f")).as("files_after"))
        .select(col("day").cast("timestamp").as("day"), col("n_rows"),
          col("cents"), col("files_after"))
        .orderBy("day")
    }),

    // Z-order clustering as a declared key: per curve-bucket stats read
    // from the REWRITTEN artifact prove both halves — the data survived
    // (count + exact-cents revenue per bucket equal the oracle's replay
    // from raw lineitem) and the clustering works (each bucket's
    // [pmin..pmax]×[smin..smax] rectangle — exactly the min/max stats a
    // file-skipping reader consults — is a small tile of the key space,
    // so a predicate on EITHER key prunes most buckets).
    "sink_zorder" -> ((s, dir) =>
      graft.Tables.memoizedDirRead(s, ensureZorderLineitem(s, dir))
        .groupBy(col("zb").cast("long").as("zb"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100, 0).cast("long"))
            .as("cents"),
          min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
          min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
        .orderBy("zb")),

    // Dynamic partition pruning: the day predicate is NOT a literal — it
    // is the output of a dimension query (Mondays), so static pruning
    // can't fire. The broadcast of the filtered dim is reused as a
    // dynamicpruning subquery in the fact scan's PartitionFilters
    // (PlanAuditSpec asserts it), so only matching day directories are
    // listed/read — at 100 TB that is the difference between scanning
    // half the lake and scanning all of it then filtering.
    // broadcast() hint: a day dimension is bounded (~365 rows/year).
    // Dim filter is odd day-of-month: engine-portable semantics (unlike
    // dayofweek, whose origin differs between Spark and DuckDB), so the
    // oracle SQL replays identically in BOTH engines (DifferentialSpec).
    "join_dpp" -> ((s, dir) => {
      val fact = graft.Tables.memoizedDirRead(s, ensurePartitionedEvents(s, dir))
      val dim = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day")).distinct()
        .where(dayofmonth(col("day")) % 2 === 1)
      fact.join(broadcast(dim), "day")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), D.r2(sum("value")).as("sum_value"))
        .orderBy("event_type")
    }),

    // CSV source with an EXPLICIT schema (no inference pass — schema
    // inference is a full extra scan at lake scale) + quoted-field parse.
    // Doubles survive the text roundtrip exactly: the writer emits Java's
    // round-trippable shortest-decimal form.
    "source_csv" -> ((s, dir) =>
      graft.Tables.memoizedSourceRead(s, ensureCsvOrders(s, dir), "csv")(p =>
        s.read.option("header", "true")
          .schema("o_orderkey BIGINT, o_orderstatus STRING, " +
            "o_totalprice DOUBLE, tag STRING")
          .csv(p))
        .orderBy("o_orderkey")),

    // XML source (built into Spark 4) with an EXPLICIT schema — the
    // B2B/legacy-feed format the file family lacked. rowTag streams one
    // order element per record (the reader splits on the tag, so a 100 TB
    // feed still parallelizes per file-split); the timestamp round-trips
    // as an ISO string and is parsed back explicitly, keeping the value
    // identical to every other orders reader regardless of writer-side
    // timestamp conventions.
    "source_xml" -> ((s, dir) =>
      graft.Tables.memoizedSourceRead(s, ensureXmlOrders(s, dir), "xml")(p =>
        s.read.option("rowTag", "order")
          .schema("o_orderkey BIGINT, o_orderstatus STRING, " +
            "o_totalprice DOUBLE, o_odate STRING")
          .format("xml").load(p))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          to_timestamp(col("o_odate"), "yyyy-MM-dd HH:mm:ss")
            .cast("timestamp_ntz").as("o_orderdate"))
        .orderBy("o_orderkey")),

    // ORC source with an EXPLICIT schema (skips footer-merge planning the
    // way a production reader with a known catalog schema does). The
    // schema is DERIVED from the live orders table, not hard-coded: the
    // driver regenerates testdata between rounds and physical types have
    // drifted before (ts nanos→µs) — deriving keeps the read adaptive
    // while still exercising the user-supplied-schema path.
    "source_orc" -> ((s, dir) =>
      graft.Tables.memoizedSourceRead(s, ensureOrcOrders(s, dir), "orc") { p =>
        val sch = Tables.table(s, dir, "orders")
          .select(typedOrderCols.map(col): _*).schema
        s.read.schema(sch).orc(p)
      }.orderBy("o_orderkey")),

    // JDBC source over the staged embedded-Derby copy of orders — the #1
    // ingest surface the file-format family doesn't cover (every
    // warehouse ingest starts as a JDBC parallel read). The read is
    // RANGE-PARTITIONED: partitionColumn/lowerBound/upperBound/
    // numPartitions make each task issue its own bounded-range query, so
    // the scan parallelizes like a lake scan instead of funneling the
    // table through one connection — at warehouse scale this IS the
    // difference between an 8-hour and a 30-minute ingest. Bounds come
    // from a one-row parquet agg (bounded collect, the sink_partitioned
    // day-literal pattern). Schema arrives from JDBC metadata (one
    // round-trip, no data scan).
    "source_jdbc" -> ((s, dir) => {
      // relation memo (r22): the range-partition bounds collect (one
      // 1-row parquet agg) and the JDBC schema round-trip re-ran per
      // construction; both are relation METADATA against the
      // publish-once Derby artifact, so they memoize with it.
      graft.Tables.memoizedSourceRead(s, ensureJdbcOrders(s, dir),
          "jdbc") { root =>
      val b = Tables.table(s, dir, "orders")
        .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi")).head()
      s.read.format("jdbc")
        .option("url", s"jdbc:derby:$root/db")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("dbtable", "orders")
        // Derby TIMESTAMP is wall-clock; the corpus reads o_orderdate as
        // TIMESTAMP_NTZ (also wall-clock). Mapping the JDBC read to NTZ
        // keeps the round-trip timezone-FREE — the default instant
        // mapping would re-interpret the wall clock in the session zone,
        // silently shifting values on any non-UTC deployment (and
        // drifting the column type from every other orders reader's).
        .option("preferTimestampNTZ", "true")
        .option("partitionColumn", "o_orderkey")
        .option("lowerBound", b.getLong(0))
        .option("upperBound", b.getLong(1))
        .option("numPartitions", 8)
        .load()
      }.select(typedOrderCols.map(col): _*)
        .orderBy("o_orderkey")
    }),

    // Raw line-oriented text source — the remaining feasible file format
    // after parquet/JSON-lines/CSV/ORC (Avro: datasource jar absent, see
    // SURVEY §2.1): `spark.read.text` over the staged one-doc-per-line
    // dump, then the parse-after-read step every raw-text ingest performs
    // (split at the first tab → typed doc_id + payload). Output pins the
    // FULL payload round-trip byte-for-byte (md5 + length per doc) — a
    // dropped/mangled line or a split that eats payload tabs would
    // hash-mismatch, not just change counts. Splits are per-line, so the
    // read parallelizes like any text lake scan.
    "source_text" -> ((s, dir) => {
      val p = split(col("value"), "\t", 2)
      graft.Tables.memoizedSourceRead(s, ensureTextDocs(s, dir), "text")(
        s.read.text(_))
        .select(element_at(p, 1).cast("long").as("doc_id"),
          element_at(p, 2).as("text"))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_txt"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // Opaque-binary ingest: the binaryFile source over the one-file-per-
    // document lake layout (path, length, content) — the entry point of
    // every multimodal pipeline (mm_media_features et al. consume the
    // same bytes from parquet; this key proves the FILE-layout ingest
    // path). The identity is (doc_id parsed from the file name, byte
    // length, content digest) — file length is OCTET length, so the
    // oracle compares strlen(text), not the character count.
    "source_binary" -> ((s, dir) =>
      // relation memo (r22): the binaryFile listing is one entry PER
      // DOCUMENT (5000 files at sf0.1) and re-ran per construction
      graft.Tables.memoizedSourceRead(s, ensureBinaryDocs(s, dir), "bin")(p =>
        s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
          .load(p))
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast("long")
            .as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy("doc_id")),

    // Row-level retention delete (GDPR / right-to-be-forgotten) — the
    // third leg of the lakehouse maintenance triad next to
    // sink_compaction (OPTIMIZE) and sink_zorder (ZORDER). The store is
    // laid out subject-aware — partitioned (day, user_id mod 16) so a
    // forget-set's rows concentrate in few files — and the delete is
    // COPY-ON-WRITE: only cells holding a forget row are rewritten
    // (anti-filtered); untouched cells are carried over byte-identical
    // (SinkDeleteSpec diffs the actual file bytes). The declared output
    // proves both halves per day from the artifacts themselves:
    // n_after/cents_after (read from the deleted store) equal the raw
    // corpus minus the forget rows, and files_after — counted via
    // input_file_name() — equals the layout law `count(DISTINCT
    // user_id%16 among survivors)` (each cell is written by exactly one
    // task → one file). bkts_touched/bkts_total pin the write
    // amplification the subject-aware layout bought: only
    // touched/total cells were rewritten.
    "sink_delete" -> ((s, dir) => {
      val store = graft.Tables.memoizedDirRead(s, ensureRetentionStore(s, dir))
      val del = graft.Tables.memoizedDirRead(s, ensureDeletedStore(s, dir))
        .withColumn("f", input_file_name())
      val after = del.groupBy(col("day"))
        .agg(count(lit(1)).as("n_after"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents_after"),
          countDistinct(col("f")).as("files_after"))
      val law = store.groupBy(col("day"))
        .agg(countDistinct(when(isForget, col("bkt"))).as("bkts_touched"),
          countDistinct(col("bkt")).as("bkts_total"))
      law.join(after, Seq("day"), "left")
        .select(col("day").cast("timestamp").as("day"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          coalesce(col("cents_after"), lit(0L)).as("cents_after"),
          coalesce(col("files_after"), lit(0L)).as("files_after"),
          col("bkts_touched"), col("bkts_total"))
        .orderBy("day")
    }),

    // VACUUM (orphan-file GC) — the fourth leg of the lakehouse
    // maintenance set (OPTIMIZE = sink_compaction, ZORDER = sink_zorder,
    // DELETE = sink_delete): the retention store is littered with
    // deterministic failed-writer debris (1 + dayOfMonth % 3 hidden
    // `.part-orphan-*.tmp` files per day — uncommitted temp files a
    // crashed attempt strands), then vacuumed. The declared output reads
    // the VACUUMED artifact: per-day rows/cents prove every committed
    // byte survived (the oracle replays them from raw events), files via
    // input_file_name() prove the layout law, and orphans_removed pins
    // the planting formula both engines compute. The file-level half —
    // junk present in the littered store, gone after vacuum, every kept
    // file byte-identical, and Spark READS unaffected by the litter
    // (orphans are a storage problem, never a correctness one) — is
    // SinkVacuumSpec's job.
    "sink_vacuum" -> ((s, dir) => {
      val vac = graft.Tables.memoizedDirRead(s, ensureVacuumedStore(s, dir))
        .withColumn("f", input_file_name())
      vac.groupBy(col("day"))
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"),
          countDistinct(col("f")).as("n_files"))
        .select(col("day").cast("timestamp").as("day"), col("n_rows"),
          col("cents"), col("n_files"),
          (lit(1) + dayofmonth(col("day")) % 3).cast("long")
            .as("orphans_removed"))
        .orderBy("day")
    }),

    // TIME TRAVEL (round 15 — the fifth leg of the lakehouse maintenance
    // set): the delete published a NEW version; the OLD one must stay
    // readable until vacuum retires it — that is the whole reason
    // sink_vacuum's reachability rule exists. The store's version chain
    // here is v0 = the retention store, v1 = the post-delete rewrite
    // (copy-on-write keeps v0's files untouched by construction —
    // SinkDeleteSpec proves carried files byte-identical). The declared
    // output reads BOTH versions through the same per-day summary:
    // version 0 must equal the raw corpus (nothing the delete did may
    // leak backwards in time), version 1 the anti-filtered corpus. A day
    // whose every row was deleted is absent from v1 — exactly what an
    // AS OF read of that version serves. At 100 TB this is a manifest
    // pointer swap; here the two versions are two published directories,
    // which is what a manifest points at.
    "sink_time_travel" -> ((s, dir) => {
      Seq(0 -> ensureRetentionStore(s, dir), 1 -> ensureDeletedStore(s, dir))
        .map { case (v, root) =>
          graft.Tables.memoizedDirRead(s, root).groupBy(col("day"))
            .agg(count(lit(1)).as("n_rows"),
              sum(round(col("value") * 100, 0).cast("long")).as("cents"))
            .select(lit(v).as("version"), col("day").cast("timestamp").as("day"),
              col("n_rows"), col("cents"))
        }.reduce(_.unionByName(_))
        .orderBy("version", "day")
    }),

    // CHANGE DATA FEED (round 15): the row-level diff between two table
    // versions — what CDC consumers subscribe to after every commit.
    // The at-scale contract is that CDF work is proportional to the
    // REWRITTEN data, never the table: the copy-on-write delete carried
    // untouched cells over byte-identical, so the (driver-side, manifest-
    // scale) file-list diff identifies exactly the touched cells, and
    // only THOSE cells' rows are read and anti-joined (both reads
    // partition-pruned to the changed day×bkt cells — PlanAuditSpec
    // asserts the isin partition filters reach both scans). Deletes =
    // v0∖v1 on the row key within changed cells; inserts = v1∖v0
    // (structurally computed — this delete-only commit yields none, and
    // the oracle pins that emptiness). Row-level output, totally ordered
    // by the key.
    "sink_change_feed" -> ((s, dir) => {
      val (v0, v1Rows) = changedCellRows(s, ensureRetentionStore(s, dir),
        ensureDeletedStore(s, dir), "event_id", "user_id", "day")
      // ONE full-outer join computes both diff directions (null right =
      // delete, null left = insert): the two-anti-join form scanned each
      // version's changed cells TWICE — doubling exactly the touched-cell
      // I/O this key's contract bounds (r15 review finding).
      val v1 = v1Rows.select(col("event_id").as("b_id"),
        col("user_id").as("b_user"), col("day").as("b_day"))
      v0
        .join(v1, col("event_id") === col("b_id"), "full_outer")
        .where(col("event_id").isNull || col("b_id").isNull)
        .select(
          coalesce(col("event_id"), col("b_id")).as("event_id"),
          coalesce(col("user_id"), col("b_user")).as("user_id"),
          coalesce(col("day"), col("b_day")).cast("timestamp").as("day"),
          when(col("b_id").isNull, lit("delete")).otherwise(lit("insert"))
            .as("change_type"))
        .orderBy("event_id")
    }),

    // CHANGE DATA FEED, upsert commit (round 16 — r15 verdict item 2):
    // the v1→v2 diff of a MERGE that deletes, updates, AND inserts, so
    // every CDC change type carries rows (the delete-only key above pins
    // the empty-insert case; this one pins the full surface). Updates are
    // emitted Delta-CDF style as update_preimage/update_postimage row
    // PAIRS — one full-outer join pass, classification + pair fan-out via
    // a single exploded CASE of struct arrays (empty array = unchanged
    // row dropped; no second join, no nullable columns). Work stays
    // proportional to the touched cells: both reads partition-prune to
    // the manifest-diffed day×bkt cells exactly like the delete-leg key.
    "sink_change_feed_upsert" -> ((s, dir) => {
      val (v1, v2Rows) = changedCellRows(s, ensureDeletedStore(s, dir),
        ensureUpsertedStore(s, dir), "event_id", "user_id", "day", "value")
      val v2 = v2Rows.select(col("event_id").as("b_id"),
        col("user_id").as("b_user"), col("day").as("b_day"),
        col("value").as("b_value"))
      val cents = (c: org.apache.spark.sql.Column) =>
        round(c * 100, 0).cast("long")
      def change(tpe: String, id: org.apache.spark.sql.Column,
                 user: org.apache.spark.sql.Column,
                 day: org.apache.spark.sql.Column,
                 v: org.apache.spark.sql.Column) =
        struct(id.as("event_id"), user.as("user_id"),
          day.cast("timestamp").as("day"), lit(tpe).as("change_type"),
          cents(v).as("cents"))
      v1
        .join(v2, col("event_id") === col("b_id"), "full_outer")
        .select(explode(
          when(col("b_id").isNull, array(change("delete", col("event_id"),
            col("user_id"), col("day"), col("value"))))
          .when(col("event_id").isNull, array(change("insert", col("b_id"),
            col("b_user"), col("b_day"), col("b_value"))))
          .when(col("value") =!= col("b_value"), array(
            change("update_preimage", col("event_id"), col("user_id"),
              col("day"), col("value")),
            change("update_postimage", col("event_id"), col("user_id"),
              col("day"), col("b_value"))))
          .otherwise(array().cast("array<struct<event_id:bigint," +
            "user_id:bigint,day:timestamp,change_type:string,cents:bigint>>"))
        ).as("c"))
        .select(col("c.*"))
        .orderBy("event_id", "change_type")
    })
  )

  /** Per-cell (day, bkt) manifest of a published store: the sorted
    * (fileName, size) list of VISIBLE files. Two versions' manifests
    * differ on exactly the rewritten/vanished cells — carried-over files
    * are byte-copies (same name + size), rewritten ones carry a fresh
    * task UUID in the name. Driver-side and bounded by cell count
    * (≤ days × 16), the same manifest-scale posture as sink_delete's
    * touched-cell collect. */
  private def cellManifest(root: java.nio.file.Path)
      : Map[(String, Int), Vector[(String, Long)]] = {
    import java.nio.file.Files
    val out = scala.collection.mutable.Map[(String, Int), Vector[(String, Long)]]()
    listUnder(root)(_.foreach { dayDir =>
      val dn = dayDir.getFileName.toString
      if (dn.startsWith("day=") && Files.isDirectory(dayDir)) {
        listUnder(dayDir)(_.foreach { bktDir =>
          val bn = bktDir.getFileName.toString
          if (bn.startsWith("bkt=") && Files.isDirectory(bktDir)) {
            val files = listUnder(bktDir)(_.toVector)
              .filter(f => !hiddenName(f.getFileName.toString))
              .map(f => (f.getFileName.toString, Files.size(f)))
              .sortBy(_._1)
            out((dn.stripPrefix("day="), bn.stripPrefix("bkt=").toInt)) = files
          }
        })
      }
    })
    out.toMap
  }

  val oracles: Map[String, String] = Map(
    "source_merge_schema" ->
      ("SELECT o_orderkey, o_totalprice AS total, " +
       "CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderstatus END AS st " +
       "FROM orders ORDER BY o_orderkey"),
    "sink_partitioned" ->
      ("WITH d AS (SELECT min(date_trunc('day', ts)) AS d0 FROM events) " +
       "SELECT CAST(d.d0 AS TIMESTAMP) AS day, event_type, count(*) AS n, " +
       "round(sum(value), 2) AS sum_value " +
       "FROM events, d WHERE date_trunc('day', ts) = d.d0 " +
       "GROUP BY 1, 2 ORDER BY event_type"),
    "sink_overwrite_dynamic" ->
      // both halves replayed from raw events: restated days keep only
      // the deduped delta rows, untouched days keep everything. The
      // empty-delta carve-out mirrors the ENGINE's semantics (r17
      // review): dynamic overwrite only replaces partitions the delta
      // actually WRITES, so a targeted day whose delta filtered to
      // nothing keeps its full base rows — without this the oracle
      // would drop such a day entirely and the gate would diverge on
      // any corpus where a %7=3 day's ids are all %3=0. `restated`
      // mirrors the Spark side's survivor-derived flag (r17 ADVICE):
      // targeted AND the surviving rows carry delta ids.
      ("WITH e AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, " +
       "day(ts) AS dom, event_id, value FROM events), " +
       "emptyd AS (SELECT day FROM e WHERE dom % 7 = 3 GROUP BY day " +
       "HAVING count(CASE WHEN event_id % 3 <> 0 THEN 1 END) = 0) " +
       "SELECT day, count(*) AS n, " +
       "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents, " +
       "dom % 7 = 3 AND " +
       "count(CASE WHEN event_id % 3 <> 0 THEN 1 END) > 0 AS restated " +
       "FROM e " +
       "WHERE dom % 7 <> 3 OR event_id % 3 <> 0 " +
       "OR day IN (SELECT day FROM emptyd) " +
       "GROUP BY day, dom % 7 = 3 ORDER BY day"),
    "sink_compaction" ->
      // files_after replays the ⌈n/R⌉ bin-packing law (R = 1000); n_rows
      // and cents prove the rewrite preserved the data.
      ("SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, " +
       "count(*) AS n_rows, " +
       "CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) " +
       "AS cents, " +
       "CAST(ceil(count(*) / 1000.0) AS BIGINT) AS files_after " +
       "FROM events GROUP BY 1 ORDER BY day"),
    "sink_delete" ->
      // n_after/cents_after replay the anti-filter; files_after replays
      // the one-file-per-surviving-bucket law; bkts_touched/bkts_total
      // replay the subject-aware layout's write-amplification bound.
      ("SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, " +
       "count(*) FILTER (user_id % 37 <> 3) AS n_after, " +
       "COALESCE(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) " +
       "  FILTER (user_id % 37 <> 3) AS BIGINT), 0) AS cents_after, " +
       "count(DISTINCT user_id % 16) FILTER (user_id % 37 <> 3) " +
       "  AS files_after, " +
       "count(DISTINCT CASE WHEN user_id % 37 = 3 THEN user_id % 16 END) " +
       "  AS bkts_touched, " +
       "count(DISTINCT user_id % 16) AS bkts_total " +
       "FROM events GROUP BY 1 ORDER BY day"),
    "sink_time_travel" ->
      // version 0 = every raw row (the delete leaked nothing backwards);
      // version 1 = the anti-filtered corpus, days with zero survivors
      // absent (GROUP BY over the filtered rows drops them, exactly like
      // the v1 artifact).
      ("SELECT 0 AS version, " +
       "CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, " +
       "count(*) AS n_rows, " +
       "CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) " +
       "  AS cents FROM events GROUP BY 2 " +
       "UNION ALL SELECT 1, " +
       "CAST(date_trunc('day', ts) AS TIMESTAMP), count(*), " +
       "CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) " +
       "FROM events WHERE user_id % 37 <> 3 GROUP BY 2 " +
       "ORDER BY version, day"),
    "sink_change_feed" ->
      // the delete-only commit's CDF is exactly the forget rows as
      // deletes and NOTHING as inserts — the replay's absence of any
      // 'insert' row pins that the structural insert branch stays empty.
      ("SELECT event_id, user_id, " +
       "CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, " +
       "'delete' AS change_type FROM events " +
       "WHERE user_id % 37 = 3 ORDER BY event_id"),
    "sink_change_feed_upsert" ->
      // every change set replayed as a pure function of raw events:
      // v1 = user_id % 37 <> 3 survivors; deletes = class 7, updates =
      // class 5 (pre from the raw value, post = the constant 999.99 →
      // 99999 cents), inserts = the event_id % 97 = 11 twins offset by
      // 10^12 at 111.11 → 11111 cents. The update legs share the Spark
      // side's value <> 999.99 guard so a raw row already at the update
      // constant is unchanged on both sides.
      ("WITH v1 AS (SELECT event_id, user_id, " +
       "CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value " +
       "FROM events WHERE user_id % 37 <> 3) " +
       "SELECT event_id, user_id, day, 'delete' AS change_type, " +
       "CAST(round(value * 100, 0) AS BIGINT) AS cents " +
       "FROM v1 WHERE user_id % 37 = 7 " +
       "UNION ALL SELECT event_id, user_id, day, 'update_preimage', " +
       "CAST(round(value * 100, 0) AS BIGINT) " +
       "FROM v1 WHERE user_id % 37 = 5 AND value <> 999.99 " +
       "UNION ALL SELECT event_id, user_id, day, 'update_postimage', " +
       "CAST(99999 AS BIGINT) " +
       "FROM v1 WHERE user_id % 37 = 5 AND value <> 999.99 " +
       "UNION ALL SELECT event_id + 1000000000000, user_id, day, " +
       "'insert', CAST(11111 AS BIGINT) " +
       "FROM v1 WHERE event_id % 97 = 11 AND user_id % 37 <> 7 " +
       "ORDER BY event_id, change_type"),
    "sink_vacuum" ->
      // rows/cents prove the vacuum dropped no committed data; n_files
      // replays the one-file-per-bucket layout law; orphans_removed is
      // the planting formula (1 + dayOfMonth % 3) both engines compute.
      ("SELECT day, n_rows, cents, n_files, " +
       "CAST(1 + day(CAST(day AS DATE)) % 3 AS BIGINT) AS orphans_removed " +
       "FROM (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, " +
       "count(*) AS n_rows, " +
       "CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) " +
       "  AS cents, " +
       "count(DISTINCT user_id % 16) AS n_files " +
       "FROM events GROUP BY 1) ORDER BY day"),
    "sink_zorder" ->
      // Replays the dimension normalization and the Morton interleave
      // bit-by-bit from raw lineitem (the 32 shift/and terms are
      // generated, not hand-typed), the same integer bucket width, and
      // the same per-bucket stats — equality proves the clustered
      // rewrite preserved the data.
      ("WITH m AS (SELECT max(l_partkey) + 1 AS mp, " +
       "max(l_suppkey) + 1 AS ms FROM lineitem), " +
       "b AS (SELECT (l_partkey * 65536) // mp AS px, " +
       "(l_suppkey * 65536) // ms AS py, " +
       "l_partkey, l_suppkey, l_extendedprice FROM lineitem, m), " +
       "z AS (SELECT l_partkey, l_suppkey, l_extendedprice, " +
       (0 until 16).map(i =>
         s"(((px >> $i) & 1) << ${2 * i}) + " +
         s"(((py >> $i) & 1) << ${2 * i + 1})").mkString("", " + ", " ") +
       "AS zv FROM b), " +
       "w AS (SELECT (max(zv) // 64) + 1 AS wd FROM z) " +
       "SELECT CAST(zv // wd AS BIGINT) AS zb, count(*) AS n, " +
       "CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) " +
       "AS BIGINT) AS cents, " +
       "min(l_partkey) AS pmin, max(l_partkey) AS pmax, " +
       "min(l_suppkey) AS smin, max(l_suppkey) AS smax " +
       "FROM z, w GROUP BY 1 ORDER BY zb"),
    "join_dpp" ->
      ("WITH dim AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day " +
       "FROM events WHERE extract(day FROM ts) % 2 = 1) " +
       "SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value " +
       "FROM events e JOIN dim ON CAST(date_trunc('day', e.ts) AS DATE) = dim.day " +
       "GROUP BY 1 ORDER BY event_type"),
    "source_csv" ->
      ("SELECT o_orderkey, o_orderstatus, o_totalprice, " +
       "o_orderpriority || ',' || o_orderstatus AS tag " +
       "FROM orders ORDER BY o_orderkey"),
    "source_orc" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
       "o_orderdate, o_orderpriority FROM orders ORDER BY o_orderkey"),
    // The Derby round-trip is lossless for every column type it carries
    // (BIGINT/DOUBLE/VARCHAR-CLOB/TIMESTAMP), so the oracle is the same
    // identity projection the ORC key uses.
    "source_jdbc" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
       "o_orderdate, o_orderpriority FROM orders ORDER BY o_orderkey"),
    // Identity projection: the ISO-string timestamp round-trip must land
    // back on the raw value (order dates are whole seconds by contract).
    "source_xml" ->
      ("SELECT o_orderkey, o_orderstatus, o_totalprice, " +
       "o_orderdate FROM orders ORDER BY o_orderkey"),
    // The text round-trip is lossless (single-line, tab-free corpus), so
    // the oracle replays the payload digest from the source table.
    "source_text" ->
      ("SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_txt, " +
       "md5(text) AS text_md5 FROM documents ORDER BY doc_id"),
    "source_binary" ->
      ("SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, " +
       "md5(text) AS content_md5 FROM documents ORDER BY doc_id")
  )
}
