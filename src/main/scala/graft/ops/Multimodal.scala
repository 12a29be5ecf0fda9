package graft.ops

import graft.{D, Tables}
import graft.QueryDefs.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A media record as it would arrive from a lakehouse media table: opaque
  * payload bytes plus typed metadata. */
case class MediaRec(doc_id: Long, fmt: String, width: Int, height: Int,
                    payload: Array[Byte])

/** Per-doc media geometry, deterministic from doc_id — the pre-encode half
  * of the media-bytes fixture. Images stay small (8–31 × 8–23 px) so the
  * fixture encode is cheap at bench SF; WAV length crosses the 224 resize
  * threshold so both resize branches are exercised. Top-level (not nested
  * private) because Encoder codegen must instantiate it. */
case class MediaMeta(doc_id: Long, fmt: String, width: Int, height: Int)

/** Decoded features for one media item: exact-integer unit count,
  * brightness (= exact luma/amplitude sum ÷ count, one IEEE division),
  * 8-bucket Shannon entropy in nats, the resize-to-fit-224 output
  * geometry, and the decoded-geometry-equals-metadata law flag. */
case class MediaFeat(doc_id: Long, fmt: String, n_bytes: Int, n_units: Long,
                     brightness: Double, entropy_nats: Double,
                     out_w: Int, out_h: Int, geom_ok: Boolean)

/** Pre-encode metadata for the image-dedup fixture: `ck` is the content
  * key — documents sharing a ck carry the SAME pixels (possibly in
  * different container formats). Top-level for Encoder codegen. */
case class ImageDupMeta(doc_id: Long, fmt: String, ck: Long,
                        width: Int, height: Int)

/** One perceptually-hashed image: the 64-bit aHash (as a 64-char
  * bitstring — integer-exact and SQL-replayable) alongside identity. */
case class ImageHash(doc_id: Long, fmt: String, ahash: String)

/** One audio analysis window: exact integer statistics of a
  * 256-sample frame (see MediaCodec.wavFrames). */
case class AudioFrame(win_idx: Int, n_samples: Int, sum_abs: Long,
                      sum_sq: Long, zcr: Long)

/** An [[AudioFrame]] tagged with its document. */
case class DocAudioFrame(doc_id: Long, win_idx: Int, n_samples: Int,
                         sum_abs: Long, sum_sq: Long, zcr: Long)

/** Multimodal-column plumbing (training-data-pipeline surface): treat
  * image/audio/video as opaque `binary` columns with typed metadata, and
  * run the decode / feature-extract step as a distributed per-partition
  * batch job.
  *
  * The decode is REAL: `MediaCodec.decodeFeatures` parses genuine PNG/BMP
  * bytes via `javax.imageio` and WAV containers via `javax.sound.sampled`
  * (both JDK-built-in, headless-safe) and features come from actual
  * pixels/samples. The fixture side is synthetic by necessity — no media
  * files ship with the corpus — so `mediaBytesTable` deterministically
  * ENCODES each document's media with the same JDK codecs before the
  * product path decodes it. The plumbing (binary payload + typed metadata
  * schema, `Dataset[MediaRec].mapPartitions` batch shape — the Scala
  * analog of `mapInPandas`, decoder state amortizable per partition) is
  * exactly what a lakehouse media table needs at scale.
  */
object Multimodal {

  /** The `documents` table dressed as a metadata-plus-opaque-bytes media
    * table: payload = UTF-8 bytes of the text. Kept as the fixture for the
    * byte-slicing (`mm_frame_sample`) and metadata-only
    * (`mm_metadata_stats`) paths, whose DuckDB oracles replay the same
    * bytes as VARCHAR. */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")
      .select(col("doc_id"),
        element_at(array(lit("png"), lit("jpeg"), lit("wav")),
          (col("doc_id") % 3 + 1).cast("int")).as("fmt"),
        (col("n_chars") % 640 + 1).cast("int").as("width"),
        (col("n_chars") % 480 + 1).cast("int").as("height"),
        encode(col("text"), "UTF-8").as("payload"))

  /** The media-bytes fixture: one genuinely-encoded payload per document
    * (PNG/BMP image or WAV audio, round-robin by doc_id), metadata
    * matching the encoded geometry. Encoding runs in the same
    * per-partition batch shape the decoder uses. */
  def mediaBytesTable(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[MediaRec] = {
    import s.implicits._
    Tables.table(s, dir, "documents")
      .select(col("doc_id"),
        element_at(array(lit("png"), lit("bmp"), lit("wav")),
          (col("doc_id") % 3 + 1).cast("int")).as("fmt"),
        when(col("doc_id") % 3 === 2, (col("doc_id") % 500 + 32).cast("int"))
          .otherwise((col("doc_id") % 24 + 8).cast("int")).as("width"),
        when(col("doc_id") % 3 === 2, lit(1))
          .otherwise((col("doc_id") % 16 + 8).cast("int")).as("height"))
      .as[MediaMeta]
      .mapPartitions(_.map { m =>
        val bytes = m.fmt match {
          case "wav" => MediaCodec.encodeWav(m.doc_id, m.width)
          case f     => MediaCodec.encodeImage(f, m.doc_id, m.width, m.height)
        }
        MediaRec(m.doc_id, m.fmt, m.width, m.height, bytes)
      })
  }

  /** Image-dedup fixture: content keyed by doc_id % 49 (each logical
    * image recurs ~n/49 times across the corpus), container format
    * alternating PNG/BMP by doc_id parity — 49 is odd, so every content
    * class mixes both formats. Byte-level hashes therefore differ inside
    * a class while the pixels are identical: exactly the situation
    * byte-md5 dedup misses and perceptual dedup exists for. Geometry is
    * a function of the content key (≥8×8 for the aHash grid). */
  def imageDupTable(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[MediaRec] =
    imageClassTable(s, dir)(m =>
      MediaCodec.encodeImage(m.fmt, m.ck, m.width, m.height))

  /** Near-dup image fixture: same content classes as [[imageDupTable]]
    * (ck = doc_id % 49), but ODD docs carry the NEAR variant — the
    * top-left pooled cell's gray values saturating-shifted by +96
    * (MediaCodec.encodeImageNear) — so each class holds two hash groups
    * a few aHash bits apart (measured 0–4), the case exact-hash
    * grouping misses and Hamming banding exists for. Containers still
    * alternate by parity (base = png, near = bmp), so every near-pair
    * is ALSO cross-format. */
  def imageNearDupTable(s: SparkSession, dir: String): org.apache.spark.sql.Dataset[MediaRec] =
    imageClassTable(s, dir)(m =>
      MediaCodec.encodeImageNear(m.fmt, m.ck, m.width, m.height,
        if (m.doc_id % 2 == 1) 96 else 0))

  /** The image-dedup fixtures' metadata, one row per document: container
    * by doc_id parity (png even, bmp odd), content key `ck` = doc_id % 49
    * and a geometry that is a function of `ck`; `encode` renders each
    * row's payload. */
  private def imageClassTable(s: SparkSession, dir: String)(
      encode: ImageDupMeta => Array[Byte]): org.apache.spark.sql.Dataset[MediaRec] = {
    import s.implicits._
    Tables.table(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("png")).otherwise(lit("bmp"))
          .as("fmt"),
        (col("doc_id") % 49).as("ck"),
        ((col("doc_id") % 49) % 17 + 8).cast("int").as("width"),
        ((col("doc_id") % 49) % 13 + 8).cast("int").as("height"))
      .as[ImageDupMeta]
      .mapPartitions(_.map(m =>
        MediaRec(m.doc_id, m.fmt, m.width, m.height, encode(m))))
  }

  val queries: Map[String, Q] = Map(
    /** Hamming-banded perceptual NEAR-dedup (round 20) — the variant
      * mm_phash_dedup's scaladoc promised: re-encoded OR slightly-edited
      * images (resize artifacts, watermarks, one-cell edits) land a few
      * aHash bits apart, invisible to exact-hash grouping. Exactly the
      * dedup_simhash posture on the 64-bit aHash: 4 × 16-bit bands
      * (pigeonhole: hamming ≤ 3 ⇒ at least one band identical), the
      * band self-join runs over the DISTINCT-hash relation (corpus-size
      * independent — duplicates already collapsed by the exact group),
      * and the full Hamming distance is computed only on band-bucket
      * candidates, never all pairs. The fixture's 49 planted
      * base/near class pairs measure 0–4 bits apart; the ≤3 gate finds
      * 48 and forfeits the hamming-4 class BY CONTRACT (the pigeonhole
      * trade — widen bands to catch it). HASH-ORACLED end to end: the
      * oracle replays pixels → saturating cell edit → integer aHash →
      * banding → DuckDB `hamming()`; Spark computes the same distance
      * as a zip_with fold over the REAL decoded payloads' hashes. */
    "mm_phash_near" -> ((s, dir) => {
      import s.implicits._
      val hashes = imageNearDupTable(s, dir).repartition(col("doc_id"))
        .as[MediaRec]
        .mapPartitions(_.map(r =>
          ImageHash(r.doc_id, r.fmt, MediaCodec.aHashBits(r.payload))))
        .toDF()
        .groupBy(col("ahash").as("bits"))
        .agg(min("doc_id").as("rep"), count(lit(1)).as("n_docs"))
        // LAZY barrier (r21, q21 rescan class): hashes feeds BOTH band
        // legs below — without it each leg re-ran the full image decode
        // + aHash over every payload. Distinct-hash-sized (tiny).
        .localCheckpoint(false)
      val banded = hashes.select(col("bits"), col("rep"), col("n_docs"),
          explode(sequence(lit(0), lit(3))).as("b"))
        .withColumn("band", expr("substring(bits, b * 16 + 1, 16)"))
      val a = banded.select(col("b"), col("band"), col("bits").as("bits_a"),
        col("rep").as("rep_a"), col("n_docs").as("n_a"))
      val bb = banded.select(col("b"), col("band"), col("bits").as("bits_b"),
        col("rep").as("rep_b"), col("n_docs").as("n_b"))
      // trailing "" from split(limit -1) zips "" == "" → 0, harmless
      val ham = expr("aggregate(zip_with(split(bits_a, ''), " +
        "split(bits_b, ''), (x, y) -> CASE WHEN x = y THEN 0 ELSE 1 END), " +
        "0, (acc, v) -> acc + v)")
      a.join(bb, Seq("b", "band"))
        .where(col("bits_a") < col("bits_b"))
        .select("bits_a", "bits_b", "rep_a", "rep_b", "n_a", "n_b")
        .distinct() // a pair agreeing in several bands matches once
        .withColumn("hamming", ham.cast("long"))
        .where(col("hamming") <= 3)
        .select(col("rep_a"), col("rep_b"), col("hamming"),
          col("n_a"), col("n_b"))
        .orderBy("rep_a", "rep_b")
    }),
    /** Perceptual-hash (aHash) image dedup — the multimodal twin of
      * dedup_exact, robust to container re-encoding: decode each payload
      * (REAL ImageIO), 8×8 average-pool the quantized luma plane, group
      * by the 64-bit hash (emitted as a bitstring — the hash is pure
      * integer arithmetic, see MediaCodec.aHashBits). Clusters with
      * n ≥ 2 are duplicate sets; n_fmts proves members span BOTH
      * container formats, i.e. byte-level hashing could not have found
      * them. HASH-ORACLED (round 20): the DuckDB oracle replays the
      * synthetic pixel formula + the integer pooling/compare from the
      * raw table, so the real decode is gated pixel-exactly — a decoder
      * that misreads one pixel flips a cell sum and fails the gate.
      * Scale shape: decode + hash are map-side (8 B/image crosses the
      * shuffle — the same posture as the text fingerprints), grouping is
      * a plain two-phase hash agg, never pairwise; a Hamming near-dup
      * variant would band the 64 bits 4×16 exactly like dedup_simhash. */
    "mm_phash_dedup" -> ((s, dir) => {
      import s.implicits._
      imageDupTable(s, dir).repartition(col("doc_id")).as[MediaRec]
        .mapPartitions(_.map(r =>
          ImageHash(r.doc_id, r.fmt, MediaCodec.aHashBits(r.payload))))
        .toDF()
        .groupBy(col("ahash").as("ahash_bits"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fmt")).as("n_fmts"),
          min("doc_id").as("rep"))
        .where(col("n_docs") >= 2)
        .orderBy("rep")
    }),

    /** REAL decode (ImageIO / AudioSystem) + featurize of the media
      * batch, then per-format stats. HASH-ORACLED (round 20): every
      * declared column is either replayed by DuckDB from the synthetic
      * content formulas (n, sum_px, avg_brightness, avg_entropy,
      * avg_out_w/h — exact integer stats per item, so the decode is
      * pixel/sample-gated), an exact container-size law (sum_bytes:
      * WAV = 44 + 2·frames, BMP = 54 + h·rowpad — NULL for PNG, whose
      * deflate length is the one JDK-stack-dependent value and is
      * excluded by contract, the dedup_bloom_incremental pattern), or a
      * constant-TRUE law column (geometry_ok: decoded == declared
      * geometry; bytes_ok: every payload non-empty). Known-content
      * decode values remain spec-tested (MultimodalSpec). */
    "mm_media_features" -> ((s, dir) => {
      import s.implicits._
      // Repartition by doc_id before the decode stage only: balanced
      // batches for the expensive step regardless of source skew, while
      // metadata-only queries skip the shuffle entirely.
      mediaBytesTable(s, dir).repartition(col("doc_id")).as[MediaRec]
        .mapPartitions(_.map(MediaCodec.decodeFeatures))
        .toDF()
        .groupBy("fmt")
        .agg(count(lit(1)).as("n"),
          sum("n_units").as("sum_px"),
          sum(when(col("fmt") =!= "png", col("n_bytes"))).as("sum_bytes"),
          D.r6(avg("brightness")).as("avg_brightness"),
          D.r6(avg("entropy_nats")).as("avg_entropy"),
          D.r2(avg("out_w")).as("avg_out_w"),
          D.r2(avg("out_h")).as("avg_out_h"),
          bool_and(col("geom_ok")).as("geometry_ok"),
          bool_and(col("n_bytes") > 0).as("bytes_ok"))
        .orderBy("fmt")
    }),

    /** Frame-windowed audio features (round 20) — the per-window shape
      * a voice-activity / energy-gating stage consumes, completing the
      * audio side of the multimodal story (whole-file stats live in
      * mm_media_features): REAL WAV container parse → non-overlapping
      * 256-sample windows → RMS energy, mean |amplitude|, and the
      * zero-crossing count per window, all from EXACT integer sums
      * (Σ|s|, Σs², sign-flip count) so DuckDB replays them from the
      * sample formula and the decode is sample-gated at window
      * granularity. The metadata prune runs BEFORE the decode stage
      * (only doc_id % 3 = 2 docs are audio — the "filter by metadata
      * before decoding" posture of mm_metadata_stats). Scale shape:
      * decode + window folds are map-side in one mapPartitions batch;
      * output is windows-per-doc (≤ ⌈frames/256⌉), no shuffle until the
      * final order. */
    "mm_audio_frames" -> ((s, dir) => {
      import s.implicits._
      val Win = 256
      Tables.table(s, dir, "documents")
        .where(col("doc_id") % 3 === 2)
        .select(col("doc_id"), lit("wav").as("fmt"),
          (col("doc_id") % 500 + 32).cast("int").as("width"),
          lit(1).as("height"))
        .as[MediaMeta]
        .repartition(col("doc_id"))
        .mapPartitions(_.flatMap { m =>
          val payload = MediaCodec.encodeWav(m.doc_id, m.width)
          MediaCodec.wavFrames(payload, Win).map(f =>
            DocAudioFrame(m.doc_id, f.win_idx, f.n_samples, f.sum_abs,
              f.sum_sq, f.zcr))
        })
        .toDF()
        .select(col("doc_id"), col("win_idx").cast("long").as("win_idx"),
          col("n_samples").cast("long").as("n_samples"), col("zcr"),
          round(sqrt(col("sum_sq").cast("double") / col("n_samples")), 6)
            .as("rms"),
          round(col("sum_abs").cast("double") / col("n_samples"), 6)
            .as("mean_abs"))
        .orderBy("doc_id", "win_idx")
    }),

    // Frame sampling — the video-shaped access pattern: slice the payload
    // into fixed 64-byte frames, keep every 2nd, fingerprint each sampled
    // frame (md5 over the raw bytes) and aggregate per format. All
    // byte-level work is genuine binary-column processing (Column.substr
    // on binary, md5 of the slice); a real codec would replace the
    // fixed-stride slicer with keyframe offsets from the container index.
    "mm_frame_sample" -> ((s, dir) => {
      val F = 64
      mediaTable(s, dir)
        .withColumn("nf", ceil(length(col("payload")) / lit(F.toDouble)).cast("int"))
        // nf=0 (empty payload) must contribute zero frames like the
        // oracle's range(0, 0, 2) — Spark's sequence(0, -1, 2) THROWS, so
        // guard with an empty array instead.
        .select(col("fmt"), col("payload"),
          explode(when(col("nf") >= 1, sequence(lit(0), col("nf") - 1, lit(2)))
            .otherwise(array().cast("array<int>"))).as("frame_idx"))
        .withColumn("frame",
          col("payload").substr(col("frame_idx") * F + 1, lit(F)))
        .groupBy("fmt")
        .agg(count(lit(1)).as("frames_sampled"),
          countDistinct(md5(col("frame"))).as("uniq_frames"),
          sum(length(col("frame"))).as("bytes_sampled"))
        .orderBy("fmt")
    }),

    // Metadata-only path: binary payload size + metadata aggregation stays
    // entirely relational (no decode), the common "filter by metadata
    // before decoding" pattern — at scale this prunes the expensive decode
    // stage to the selected subset.
    "mm_metadata_stats" -> ((s, dir) =>
      mediaTable(s, dir)
        .where(col("width") > 100)
        .groupBy("fmt")
        .agg(count(lit(1)).as("n"),
          sum(length(col("payload"))).as("sum_bytes"),
          D.r2(avg("width")).as("avg_w"),
          D.r2(avg("height")).as("avg_h"))
        .orderBy("fmt"))
  )

  /** Entropy-in-nats replay for bucket `b`: the CASE-guarded term the
    * decoder's bucket-ordered fold adds (0.0 for empty buckets — IEEE
    * identity, so the `t0+…+t7` chain is bitwise the Scala loop). */
  private def entTerm(b: Int): String =
    s"(CASE WHEN h$b > 0 THEN -((CAST(h$b AS DOUBLE) / nu) * " +
      s"ln(CAST(h$b AS DOUBLE) / nu)) ELSE 0.0 END)"

  /** fit-within-224 resize replay (d = w or h): same two IEEE ops as the
    * decoder (divide, multiply), same max(1, ·) floor. Java rint is
    * half-even vs DuckDB round half-away, but the only reachable exact-.5
    * product is h·0.5 at w=448,h=1 where GREATEST(1, ·) equalizes both. */
  private def outDim(d: String): String =
    s"GREATEST(1, CAST(round($d * LEAST(1.0, 224.0 / " +
      s"GREATEST(1, GREATEST(w, h)))) AS INT))"

  val oracles: Map[String, String] = Map(
    // Replays MediaCodec's synthetic content formulas (grayValue/sample —
    // pure modular-integer math, every product < 2^63) per pixel/sample
    // from the raw table, then the decoder's exact-integer statistics:
    // brightness = one double division of exact integers, entropy = the
    // bucket-ordered nats fold, resize = the same IEEE op pair. sum_bytes
    // pins the container sizes the JDK actually writes (WAV 44+2n, BMP
    // 54 + h·rowpad(3w)); PNG's deflate length is excluded by contract
    // (NULL — the dedup_bloom_incremental pattern for the one
    // stack-dependent value). geometry_ok/bytes_ok are constant-TRUE
    // law columns: the oracle emits the literal, the engine must PROVE it.
    "mm_media_features" ->
      ("WITH meta AS (SELECT doc_id, " +
        "['png','bmp','wav'][CAST(doc_id % 3 AS INT) + 1] AS fmt, " +
        "CASE WHEN doc_id % 3 = 2 THEN CAST(doc_id % 500 + 32 AS INT) " +
        "ELSE CAST(doc_id % 24 + 8 AS INT) END AS w, " +
        "CASE WHEN doc_id % 3 = 2 THEN 1 " +
        "ELSE CAST(doc_id % 16 + 8 AS INT) END AS h FROM documents), " +
        "u AS (SELECT doc_id, fmt, w, h, " +
        "unnest(range(0, CASE WHEN fmt = 'wav' THEN w ELSE w * h END)) AS i " +
        "FROM meta), " +
        "tv AS (SELECT doc_id, fmt, w, h, " +
        "((doc_id % 65536) * 2654435761 + (i % w) * 40503 + " +
        "(i // w) * 12289) % 65536 AS tt, " +
        "abs(((doc_id % 65536) * 48271 + i * 16807) % 65536 - 32768) AS sa " +
        "FROM u), " +
        "a AS (SELECT doc_id, fmt, w, h, " +
        "CASE WHEN fmt = 'wav' THEN least(255, sa * 255 // 32767) " +
        "ELSE ((tt * (tt + 3)) // 7) % 256 END AS v FROM tv), " +
        "per AS (SELECT doc_id, fmt, w, h, count(*) AS nu, sum(v) AS sv, " +
        (0 to 7).map(b =>
          s"sum(CASE WHEN v >> 5 = $b THEN 1 ELSE 0 END) AS h$b")
          .mkString(", ") +
        " FROM a GROUP BY 1, 2, 3, 4), " +
        "f AS (SELECT doc_id, fmt, nu, CAST(sv AS DOUBLE) / nu AS bright, " +
        (0 to 7).map(entTerm).mkString(" + ") + " AS ent, " +
        outDim("w") + " AS ow, " + outDim("h") + " AS oh, " +
        "CASE WHEN fmt = 'wav' THEN 44 + 2 * w " +
        "WHEN fmt = 'bmp' THEN 54 + h * (((3 * w + 3) // 4) * 4) " +
        "ELSE NULL END AS nb FROM per) " +
        "SELECT fmt, count(*) AS n, CAST(sum(nu) AS BIGINT) AS sum_px, " +
        "CAST(sum(nb) AS BIGINT) AS sum_bytes, " +
        "round(avg(bright), 6) AS avg_brightness, " +
        "round(avg(ent), 6) AS avg_entropy, " +
        "round(avg(ow), 2) AS avg_out_w, round(avg(oh), 2) AS avg_out_h, " +
        "true AS geometry_ok, true AS bytes_ok " +
        "FROM f GROUP BY fmt ORDER BY fmt"),

    // Window stats replayed from the sample formula: the zero-crossing
    // lag partitions by (doc, window) so the window's first sample
    // pairs with nothing — the decoder's within-window contract.
    "mm_audio_frames" ->
      ("WITH meta AS (SELECT doc_id, CAST(doc_id % 500 + 32 AS INT) AS w " +
        "FROM documents WHERE doc_id % 3 = 2), " +
        "smp AS (SELECT doc_id, i, i // 256 AS win_idx, " +
        "((doc_id % 65536) * 48271 + i * 16807) % 65536 - 32768 AS s " +
        "FROM (SELECT doc_id, unnest(range(0, w)) AS i FROM meta)), " +
        "z AS (SELECT doc_id, win_idx, s, " +
        "CASE WHEN lag(s) OVER (PARTITION BY doc_id, win_idx ORDER BY i) " +
        "IS NULL THEN 0 WHEN (s < 0) <> " +
        "(lag(s) OVER (PARTITION BY doc_id, win_idx ORDER BY i) < 0) " +
        "THEN 1 ELSE 0 END AS zc FROM smp) " +
        "SELECT doc_id, win_idx, count(*) AS n_samples, " +
        "CAST(sum(zc) AS BIGINT) AS zcr, " +
        "round(sqrt(CAST(sum(s * s) AS DOUBLE) / count(*)), 6) AS rms, " +
        "round(CAST(sum(abs(s)) AS DOUBLE) / count(*), 6) AS mean_abs " +
        "FROM z GROUP BY 1, 2 ORDER BY doc_id, win_idx"),

    // Near-dedup replay: pixel formula + the saturating cell-0 edit for
    // odd-parity (delta=96) variants, integer aHash, 4×16 banding over
    // the distinct-hash relation, DuckDB hamming() on candidates.
    "mm_phash_near" ->
      ("WITH meta AS (SELECT doc_id, " +
        "doc_id % 49 AS ck, " +
        "CAST((doc_id % 49) % 17 + 8 AS INT) AS w, " +
        "CAST((doc_id % 49) % 13 + 8 AS INT) AS h, " +
        "CASE WHEN doc_id % 2 = 1 THEN 96 ELSE 0 END AS delta " +
        "FROM documents), " +
        "px AS (SELECT doc_id, ck, w, h, delta, " +
        "unnest(range(0, w * h)) AS i FROM meta), " +
        "g AS (SELECT doc_id, " +
        "(((i // w) * 8) // h) * 8 + (((i % w) * 8) // w) AS cell, " +
        "CASE WHEN (((i // w) * 8) // h) = 0 AND (((i % w) * 8) // w) = 0 " +
        "THEN least(255, ((tt * (tt + 3)) // 7) % 256 + delta) " +
        "ELSE ((tt * (tt + 3)) // 7) % 256 END AS v " +
        "FROM (SELECT *, ((ck % 65536) * 2654435761 + (i % w) * 40503 + " +
        "(i // w) * 12289) % 65536 AS tt FROM px)), " +
        "c AS (SELECT doc_id, cell, sum(v) AS sg, count(*) AS cg " +
        "FROM g GROUP BY 1, 2), " +
        "tot AS (SELECT doc_id, sum(sg) AS st, sum(cg) AS nt " +
        "FROM c GROUP BY 1), " +
        "hs AS (SELECT c.doc_id, " +
        "string_agg(CASE WHEN c.sg * t.nt > t.st * c.cg THEN '1' ELSE '0' " +
        "END, '' ORDER BY c.cell) AS bits " +
        "FROM c JOIN tot t ON t.doc_id = c.doc_id GROUP BY 1), " +
        "hg AS (SELECT bits, min(doc_id) AS rep, count(*) AS n_docs " +
        "FROM hs GROUP BY 1), " +
        "bd AS (SELECT bits, rep, n_docs, b, " +
        "substring(bits, b * 16 + 1, 16) AS band " +
        "FROM hg, (SELECT unnest(range(0, 4)) AS b)), " +
        "cand AS (SELECT DISTINCT a.bits AS bits_a, a.rep AS rep_a, " +
        "a.n_docs AS n_a, x.bits AS bits_b, x.rep AS rep_b, " +
        "x.n_docs AS n_b FROM bd a JOIN bd x " +
        "ON a.b = x.b AND a.band = x.band AND a.bits < x.bits) " +
        "SELECT rep_a, rep_b, hamming(bits_a, bits_b) AS hamming, " +
        "n_a, n_b FROM cand WHERE hamming(bits_a, bits_b) <= 3 " +
        "ORDER BY rep_a, rep_b"),

    // Replays the aHash end-to-end from the content formula: per-pixel
    // gray value → 8×8 grid cell (integer index math) → exact integer
    // cell/total sums → bit = cellSum·nTotal > totalSum·cellCount →
    // bitstring in cell order. The Spark side computes the same integers
    // from the DECODED pixels, so a one-pixel decode error fails the
    // hash gate. Content key = doc_id % 49, container by parity.
    "mm_phash_dedup" ->
      ("WITH meta AS (SELECT doc_id, " +
        "CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt, " +
        "doc_id % 49 AS ck, " +
        "CAST((doc_id % 49) % 17 + 8 AS INT) AS w, " +
        "CAST((doc_id % 49) % 13 + 8 AS INT) AS h FROM documents), " +
        "px AS (SELECT doc_id, fmt, ck, w, h, " +
        "unnest(range(0, w * h)) AS i FROM meta), " +
        "g AS (SELECT doc_id, fmt, " +
        "(((i // w) * 8) // h) * 8 + (((i % w) * 8) // w) AS cell, " +
        "((tt * (tt + 3)) // 7) % 256 AS v " +
        "FROM (SELECT *, ((ck % 65536) * 2654435761 + (i % w) * 40503 + " +
        "(i // w) * 12289) % 65536 AS tt FROM px)), " +
        "c AS (SELECT doc_id, fmt, cell, sum(v) AS sg, count(*) AS cg " +
        "FROM g GROUP BY 1, 2, 3), " +
        "tot AS (SELECT doc_id, sum(sg) AS st, sum(cg) AS nt " +
        "FROM c GROUP BY 1), " +
        "bits AS (SELECT c.doc_id, c.fmt, " +
        "string_agg(CASE WHEN c.sg * t.nt > t.st * c.cg THEN '1' ELSE '0' " +
        "END, '' ORDER BY c.cell) AS ahash_bits " +
        "FROM c JOIN tot t ON t.doc_id = c.doc_id GROUP BY 1, 2) " +
        "SELECT ahash_bits, count(*) AS n_docs, " +
        "count(DISTINCT fmt) AS n_fmts, min(doc_id) AS rep " +
        "FROM bits GROUP BY 1 HAVING count(*) >= 2 ORDER BY rep"),

    // The oracle frames the VARCHAR, Spark frames the BINARY payload —
    // identical bytes because this corpus is pure ASCII (verified: 0 docs
    // where octet_length(encode(text)) <> length(text) at every SF) and
    // md5 hashes the underlying UTF-8 bytes in both engines.
    "mm_frame_sample" ->
      ("WITH m AS (SELECT ['png','jpeg','wav'][CAST(doc_id % 3 AS INT) + 1] AS fmt, " +
        "text AS p, CAST(ceil(length(text) / 64.0) AS INT) AS nf FROM documents), " +
        "fr AS (SELECT fmt, md5(substring(p, i * 64 + 1, 64)) AS fhash, " +
        "length(substring(p, i * 64 + 1, 64)) AS fbytes " +
        "FROM m, LATERAL (SELECT unnest(range(0, nf, 2)) AS i)) " +
        // CAST: DuckDB sum(INTEGER) = HUGEINT → parquet double; Spark writes
        // int64. Cast to BIGINT for byte-identical files (VERDICT r2).
        "SELECT fmt, count(*) AS frames_sampled, count(DISTINCT fhash) AS uniq_frames, " +
        "CAST(sum(fbytes) AS BIGINT) AS bytes_sampled FROM fr GROUP BY fmt ORDER BY fmt"),
    "mm_metadata_stats" ->
      ("WITH m AS (SELECT doc_id, ['png','jpeg','wav'][CAST(doc_id % 3 AS INT) + 1] AS fmt, " +
        "CAST(n_chars % 640 + 1 AS INT) AS width, CAST(n_chars % 480 + 1 AS INT) AS height, " +
        "encode(text) AS payload FROM documents) " +
        "SELECT fmt, count(*) AS n, CAST(sum(octet_length(payload)) AS BIGINT) AS sum_bytes, " +
        "round(avg(width), 2) AS avg_w, round(avg(height), 2) AS avg_h " +
        "FROM m WHERE width > 100 GROUP BY fmt ORDER BY fmt")
  )
}
