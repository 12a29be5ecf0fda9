package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall of the approximate NN paths (IVF cells, LSH sign buckets)
  * against the exact brute force, on the same probes (vec_id < 10, k=5).
  * Random synthetic embeddings are the hardest case for space-partitioning
  * ANN (no cluster structure), so the floors are modest by design — the
  * tests pin the mechanics (non-empty, correct-k, deterministic, recall
  * not degenerate), not state-of-the-art recall.
  */
class AnnSpec extends AnyFunSuite {
  import TestSpark._

  private def topkSets(key: String): Map[Long, Set[Long]] =
    SparkEntry.queries(key)(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }

  private lazy val exact = topkSets("embed_cosine_topk")

  private def recall(approx: Map[Long, Set[Long]]): Double = {
    val per = exact.map { case (q, want) =>
      approx.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
    }
    per.sum / per.size
  }

  test("matryoshka: every probe answered with 5 neighbors, prefix-rerank " +
    "recall strong") {
    val mx = topkSets("embed_ann_matryoshka")
    assert(mx.keySet === exact.keySet)
    mx.values.foreach(s => assert(s.size === 5))
    val r = recall(mx)
    info(s"matryoshka recall@5 = $r")
    // The exact 64-dim re-rank can only miss a true neighbor if the
    // prefix-32 stage drops it from the top-100 — random vectors are the
    // adversarial case (the prefix carries half the signal and no
    // cluster structure); measured 0.92/0.96/0.78 at the three SFs,
    // floor at 0.6 (the IVF bar).
    assert(r >= 0.6, s"matryoshka recall@5 degenerated to $r")
    // re-rank exactness: every returned sim must equal the exact scan's
    // sim for that (probe, neighbor) when the pair is in the exact top-5
    val exactSims = SparkEntry.queries("embed_cosine_topk")(spark, sf)
      .collect().map(r2 => (r2.getLong(0), r2.getLong(2)) -> r2.getDouble(3))
      .toMap
    SparkEntry.queries("embed_ann_matryoshka")(spark, sf).collect()
      .foreach { r2 =>
        val k = (r2.getLong(0), r2.getLong(2))
        exactSims.get(k).foreach(s0 => assert(r2.getDouble(3) === s0,
          s"$k sim drifted from the exact scan"))
      }
  }

  test("IVF: every probe answered with 5 neighbors, recall not degenerate") {
    val ivf = topkSets("embed_ann_ivf")
    assert(ivf.keySet === exact.keySet)
    ivf.values.foreach(s => assert(s.size === 5))
    val r = recall(ivf)
    info(s"IVF recall@5 = $r")
    // measured 0.46 with first-16 seed centroids, 0.94 after the r12
    // one-round Lloyd refinement (nprobe=4 of 16 cells => ~1/4 of the
    // corpus scanned; refined cells are balanced means instead of
    // arbitrary early vectors, so probes' true neighbors co-locate far
    // more often). Floor at 0.6 keeps margin for corpus regeneration
    // while still catching a regression to seed-grade routing.
    assert(r >= 0.6, s"IVF recall@5 degenerated to $r")
  }

  /** Exact MIPS top-5 per probe (brute-force dot product) — the MIPS
    * key's recall reference must be the inner-product objective, not
    * cosine (the whole point of the augmentation is that they rank
    * differently when norms vary). */
  private lazy val exactMips: Map[Long, Set[Long]] = {
    val vs = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    vs.filter(_._1 < 10).map { case (q, qv) =>
      q -> vs.filter(_._1 != q)
        .map { case (id, v) =>
          (id, v.zip(qv).map { case (a, b) => a * b }.sum) }
        .sortBy { case (id, d) => (-d, id) }.take(5).map(_._1).toSet
    }.toMap
  }

  test("MIPS-IVF: every probe answered with 5 neighbors, recall vs exact dot not degenerate") {
    val mips = topkSets("embed_mips_ivf")
    assert(mips.keySet === exactMips.keySet)
    mips.values.foreach(s => assert(s.size === 5))
    val per = exactMips.map { case (q, want) =>
      mips.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
    }
    val r = per.sum / per.size
    info(s"MIPS-IVF recall@5 = $r")
    // same routing budget as embed_ann_ivf (nprobe=4 of 16 Lloyd-refined
    // cells, here in the norm-augmented space), so the same 0.6 floor.
    assert(r >= 0.6, s"MIPS-IVF recall@5 degenerated to $r")
  }

  test("LSH: buckets non-empty for every probe, recall beats random") {
    val lsh = topkSets("embed_ann_lsh")
    assert(lsh.keySet === exact.keySet)
    val r = recall(lsh)
    // a 6-bit sign bucket holds ~1/64 of the corpus; random 5-of-corpus
    // would give recall ~0.01 — require an order of magnitude above that.
    assert(r >= 0.1, s"LSH recall@5 degenerated to $r")
  }

  /** Exact L2 top-5 per probe, computed driver-side — PQ approximates
    * EUCLIDEAN distance, so its recall reference must be L2, not the
    * cosine reference the IVF/LSH tests use. */
  private lazy val exactL2: Map[Long, Set[Long]] = {
    val vs = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    vs.filter(_._1 < 10).map { case (q, qv) =>
      q -> vs.filter(_._1 != q)
        .map { case (id, v) =>
          (id, v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum) }
        .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSet
    }.toMap
  }

  test("PQ: every probe answered with 5 neighbors, recall vs exact L2 not degenerate") {
    val pq = topkSets("embed_ann_pq")
    assert(pq.keySet === exactL2.keySet)
    pq.values.foreach(s => assert(s.size === 5))
    val per = exactL2.map { case (q, want) =>
      pq(q).intersect(want).size.toDouble / want.size }
    val r = per.sum / per.size
    info(s"PQ recall@5 = $r")
    // ADC alone (8 subspaces × 16 codewords on clusterless random
    // vectors) measured 0.22; the exact re-rank of the top-50 ADC
    // survivors lifts it to a measured 0.88 — the floor leaves headroom
    // for tie-order jitter only, not for losing the re-rank stage.
    assert(r >= 0.6, s"PQ recall@5 degenerated to $r")
  }

  /** Independent plain-Scala reimplementation of the whole PQ path —
    * codebook slicing, Lloyd round over the `stride`-subsampled training
    * set, encode argmin, probe LUTs, ADC sums, top-5 ranking —
    * replicating Spark's round() (BigDecimal.valueOf HALF_UP) and its
    * left-to-right fold order so scores must match BIT-EXACTLY, not just
    * rank. This is the no-oracle key's oracle in all but name. */
  private def pqExpected(stride: Int): Seq[(Long, Int, Long, Double)] = {
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    def l2sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += (a(i) - b(i)) * (a(i) - b(i)); i += 1 }
      s
    }
    val vs = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    // seed codebook(j)(c): subspace-j slice of the c-th lowest-vec_id
    // vector...
    val seed: Array[Array[Array[Double]]] = Array.tabulate(8, 16) { (j, c) =>
      vs(c)._2.slice(j * 8, (j + 1) * 8)
    }
    def argmin(sub: Array[Double], cbj: Array[Array[Double]]): Int =
      (0 until 16).map(c => (r6(l2sq(sub, cbj(c))), c)).min._2
    // ...then ONE Lloyd round over every stride-th vector, replicating
    // the engine's exact fixed-point mean: per-dim sums of round(x·10⁶)
    // as longs (Spark round = HALF_UP via BigDecimal.valueOf), centroid
    // dim = sum.toDouble / n / 1e6 in that division order; empty cells
    // keep the seed codeword.
    def fx(x: Double): Long = java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val train = vs.filter(_._1 % stride == 0)
    def lloydRound(prev: Array[Array[Array[Double]]])
        : Array[Array[Array[Double]]] = {
      val sums = Array.fill(8, 16)(new Array[Long](8))
      val ns = Array.fill(8, 16)(0L)
      for ((_, v) <- train; j <- 0 until 8) {
        val sub = v.slice(j * 8, (j + 1) * 8)
        val c = argmin(sub, prev(j))
        ns(j)(c) += 1
        for (i <- 0 until 8) sums(j)(c)(i) += fx(sub(i))
      }
      Array.tabulate(8, 16) { (j, c) =>
        if (ns(j)(c) == 0) prev(j)(c)
        else sums(j)(c).map(_.toDouble / ns(j)(c) / 1e6)
      }
    }
    val cb = lloydRound(seed)
    // the Lloyd step's actual guarantee: total quantization error over
    // its TRAINING set is monotone non-increasing (each subvector moves
    // to a no-worse codeword, each codeword to its members' mean)
    def qerr(b: Array[Array[Array[Double]]]): Double =
      (for ((_, v) <- train; j <- 0 until 8) yield {
        val sub = v.slice(j * 8, (j + 1) * 8)
        (0 until 16).map(c => l2sq(sub, b(j)(c))).min
      }).sum
    assert(qerr(cb) < qerr(seed),
      "Lloyd round failed to lower quantization error")
    def encode(v: Array[Double]): Array[Int] = Array.tabulate(8) { j =>
      argmin(v.slice(j * 8, (j + 1) * 8), cb(j))
    }
    val codes = vs.map { case (id, v) => id -> encode(v) }.toMap
    val vmap = vs.toMap
    vs.filter(_._1 < 10).flatMap { case (q, qv) =>
      val lut: Array[Array[Double]] = Array.tabulate(8, 16) { (j, c) =>
        r6(l2sq(qv.slice(j * 8, (j + 1) * 8), cb(j)(c)))
      }
      // stage 1: top-50 by (rounded ADC distance, vec_id)...
      val survivors = vs.filter(_._1 != q).map { case (id, _) =>
        var s = 0.0
        for (j <- 0 until 8) s += lut(j)(codes(id)(j)) // fold order = zip_with
        (id, r6(s))
      }.sortBy { case (id, d) => (d, id) }.take(50)
      // ...stage 2: exact-L2 re-rank of only those survivors
      survivors.map { case (id, _) => (id, r6(l2sq(vmap(id), qv))) }
        .sortBy { case (id, d) => (d, id) }.take(5).zipWithIndex
        .map { case ((id, d), i) => (q, i + 1, id, d) }
    }.toSeq
  }

  /** embed_ann_pq's rows; a pinned `trainStride` builds the index
    * through `pqTop5` with that stride instead of the derived one. */
  private def pqGot(trainStride: Option[Long] = None)
      : Seq[(Long, Int, Long, Double)] =
    (trainStride match {
      case None => SparkEntry.queries("embed_ann_pq")(spark, sf)
      case Some(_) => ops.Ann.pqTop5(spark, sf, trainStride)
        .select("q_id", "rnk", "vec_id", "dist").orderBy("q_id", "rnk")
    }).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

  test("PQ output equals a full driver-side ADC replay (scores exact)") {
    assert(pqGot() === pqExpected(stride = 1))
  }

  test("stride-subsampled Lloyd training replays bit-exactly") {
    // The 100×-corpus build posture: training on every stride-th vector
    // must stay deterministic and driver-replayable, and the strided
    // artifacts must not alias the full-train ones (distinct names).
    // The test corpus derives stride 1, so the stride is pinned.
    assert(pqGot(trainStride = Some(4L)) === pqExpected(stride = 4))
    // and the full-train path is untouched by the strided run
    assert(pqGot() === pqExpected(stride = 1))
  }

  test("sharded two-stage top-k is bit-identical to the single window, ties included") {
    // The scale posture for probe-vs-corpus rankings: partial top-k per
    // hash shard, final top-k over the survivors. Lossless only because
    // the order is total, so the candidates carry 3 distinct scores over
    // 600 vec_ids per probe, listed out of vec_id order: each shard holds
    // more top-score rows than k, so both the partial and the final
    // top-10 are decided by the vec_id tie-break.
    import spark.implicits._
    val k = 10
    def sim(q: Long, v: Long): Double = ((q * 7 + v) % 3) / 2.0
    val cands = (for (q <- 0L until 4L; i <- 0L until 600L)
      yield { val v = i * 7919 % 600; (q, v, sim(q, v), s"l${v % 5}") })
      .toDF("q_id", "vec_id", "sim", "label")
    val order = Seq(col("sim").desc, col("vec_id"))
    def ranked(corpusSized: Boolean): Seq[(Long, Long, Double, String, Int)] =
      ops.Vector.rankPerProbe(cands, order, k, "rnk", corpusSized)
        .as[(Long, Long, Double, String, Int)].collect().sorted.toSeq
    val single = ranked(corpusSized = false)
    assert(ranked(corpusSized = true) === single)
    // both equal the driver-side ranking: top score, lowest vec_ids first
    val expected = (0L until 4L).flatMap { q =>
      (0L until 600L).sortBy(v => (-sim(q, v), v)).take(k).zipWithIndex
        .map { case (v, i) => (q, v, sim(q, v), s"l${v % 5}", i + 1) }
    }.sorted
    assert(single === expected)
    assert(expected.forall(_._3 == 1.0), "top-k is not all ties")
  }

  test("PQ survives a corpus smaller than the codebook size") {
    // Fewer than PqK=16 embeddings seeds a smaller codebook; the Lloyd
    // rebuild and the literal reconstruction must size from the corpus,
    // not assume 16 (regression: IndexOutOfBoundsException at index
    // build time).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-small").toString
    (0L until 12L).map(i => (i,
      Array.tabulate(64)(d => ((i * 64 + d) % 97).toFloat / 97f),
      (i % 10).toInt))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      val out = SparkEntry.queries("embed_ann_pq")(spark, dir).collect()
      // full, well-formed top-5 per probe: ranks exactly 1..5 for each of
      // the 10 probes (catches truncation AND rank skew/overflow)
      val ranksByProbe = out.groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getInt(1)).sorted.toSeq).toMap
      assert(ranksByProbe.keySet.size === 10, "10 probes expected")
      ranksByProbe.foreach { case (q, rks) =>
        assert(rks === Seq(1, 2, 3, 4, 5), s"probe $q ranks: $rks")
      }
    } finally {
      Staging.retire(
        Tables.sourceFingerprint(s"$dir/embeddings.parquet"))
      Staging.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("all ANN paths are deterministic across runs") {
    assert(topkSets("embed_ann_ivf") === topkSets("embed_ann_ivf"))
    assert(topkSets("embed_ann_lsh") === topkSets("embed_ann_lsh"))
    assert(topkSets("embed_ann_pq") === topkSets("embed_ann_pq"))
    assert(topkSets("embed_ann_ivfpq") === topkSets("embed_ann_ivfpq"))
  }

  test("IVFPQ composition: recall vs exact L2 bounded by its parents, not degenerate") {
    // IVFADC approximates in two independent stages: the cell filter
    // drops true neighbors outside the probe's nprobe=4 cells (the IVF
    // loss) and the ADC top-50 can miss ones the exact re-rank never
    // sees (the PQ loss). Recall therefore sits at or below BOTH
    // parents' — the test pins that it stays within the compounded
    // band rather than collapsing (e.g. codes joined to the wrong cell
    // would crater it toward the random ~0.01 floor).
    val ivfpq = topkSets("embed_ann_ivfpq")
    assert(ivfpq.keySet === exactL2.keySet)
    ivfpq.values.foreach(s => assert(s.size === 5))
    val per = exactL2.map { case (q, want) =>
      ivfpq(q).intersect(want).size.toDouble / want.size }
    val r = per.sum / per.size
    info(s"IVFPQ recall@5 = $r")
    assert(r >= 0.5, s"IVFPQ recall@5 degenerated to $r")
  }

  test("SQ8 scan: near-perfect recall vs the exact cosine scan") {
    val sq = topkSets("embed_ann_sq8")
    assert(sq.keySet === exact.keySet)
    sq.values.foreach(s => assert(s.size === 5))
    val r = recall(sq)
    info(s"SQ8 recall@5 = $r")
    // int8 reconstruction error is ~1e-6 MSE on unit-ish dims, so the
    // decoded scan should rank almost identically to the exact one —
    // a big margin below the measured value still catches a broken
    // decode (wrong limits, off-by-one dim indexing) instantly.
    assert(r >= 0.8, s"SQ8 recall@5 degenerated to $r")
  }

  test("IVF-SQ8 composition: recall matches the float IVF search") {
    // The decode error (~1e-6 MSE) is orders of magnitude below the
    // rounded-cosine resolution that decides cell routing and ranking,
    // so searching DECODED codes through the same nprobe=4 cell filter
    // must land the same floor as the float IVF key — any gap means the
    // composition broke (codes joined to the wrong cell, stale limits),
    // not that quantization "cost recall".
    val sqIvf = topkSets("embed_ann_sq8_ivf")
    assert(sqIvf.keySet === exact.keySet)
    sqIvf.values.foreach(s => assert(s.size === 5))
    val rIvf = recall(topkSets("embed_ann_ivf"))
    val r = recall(sqIvf)
    info(s"IVF-SQ8 recall@5 = $r (float IVF = $rIvf)")
    assert(r >= rIvf - 0.05,
      s"IVF-SQ8 recall $r fell below the float IVF floor $rIvf")
  }

  /** In-order accumulation replica of the native CosineSim expression
    * (dot/(√na·√nb), index-order sums) — bit-identical by construction. */
  private def cosRef(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("semantic dedup derives C = max(16, ceil(sqrt(N))) at every corpus scale") {
    // Pins the formula the oracle replays in SQL (greatest/ceil/sqrt on
    // count(*)) against the LIVE corpus counts — the driver regenerates
    // testdata between rounds, so the expectation is the formula applied
    // to the actual N, restated here literally, not cached values. A
    // formula drift in semCellCount would desync the staged artifact
    // name AND the oracle replay at the same time.
    for (d <- Seq(sf, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val n = Tables.rowCount(spark, Tables.path(d, "embeddings"))
      val c = ops.Ann.semCellCount(spark, d)
      info(s"$d: N=$n -> C=$c")
      assert(c === math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))
      assert(c >= 16 && c <= math.max(16, n))
    }
  }

  test("semantic dedup equals a driver-side within-cell min-id reference") {
    // All three keys run the same within-cell pass over their own
    // inverted file (single-probe semCells at the derived C, multi-probe
    // semCellsMp, two-level semCells2l); the pairing/argmin reference
    // below is independent of how the cells were computed. A vector may
    // sit in two multi-probe cells, so its keeper is the minimum
    // qualifying lower id over EVERY cell it shares with one.
    val e = ops.Ann.embDouble(spark, sf)
    val files = Seq(
      "dedup_semantic" -> ops.Ann.semCells(spark, sf, e),
      "dedup_semantic_mp" -> ops.Ann.semCellsMp(spark, sf, e),
      "dedup_semantic_2l" -> ops.Ann.semCells2l(spark, sf, e))
    for ((key, cellsDf) <- files) {
      val cells = cellsDf.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
      // reference: every same-cell pair (keeper < id) with rounded
      // cosine >= 0.35, then per vector the smallest keeper and that
      // pair's sim
      val pairs = cells.groupBy(_._3).values.toSeq.flatMap { ms =>
        for {
          (id, v, _) <- ms.toSeq
          (kid, kv, _) <- ms.toSeq if kid < id
          sim = r6(cosRef(kv, v)) if sim >= 0.35
        } yield (id, kid, sim)
      }
      val want = pairs.groupBy(_._1).values.map(_.minBy(_._2)).toSet
      val got = SparkEntry.queries(key)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      info(s"$key: ${got.size} flagged")
      assert(want.nonEmpty, s"$key: the reference flags nothing")
      assert(got === want, s"$key differs from the within-cell reference")
      got.foreach { case (id, keeper, sim) =>
        assert(keeper < id); assert(sim >= 0.35)
      }
    }
  }

  test("multi-probe semantic dedup flags a superset of the single-probe set") {
    // Every single-probe pair survives under multi-probe (a vector's
    // rank-1 cell is among its 2 probe cells, so same-cell pairs still
    // co-bucket); multi-probe can only ADD boundary pairs — and may pick
    // a SMALLER keeper for an already-flagged vector, so only the
    // flagged-id set (not the keeper map) is monotone.
    val sp = SparkEntry.queries("dedup_semantic")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val mp = SparkEntry.queries("dedup_semantic_mp")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    info(s"single-probe flagged ${sp.size}, multi-probe flagged ${mp.size} " +
      s"(+${mp.size - sp.size} cross-cell recoveries)")
    assert(sp.subsetOf(mp),
      s"multi-probe lost single-probe dups: ${(sp -- mp).take(5)}")
  }

  test("two-level routing strands no vector and keeps the dedup contract") {
    // The hazard the 2l build guards against: a coarse seed whose fine
    // seeds all tie away to a lower-id twin leaves an empty bucket —
    // vectors routed there would silently vanish from the inverted
    // file. The invariant: every corpus vector lands in EXACTLY one
    // fine cell (routing is restricted to non-empty buckets).
    val e = ops.Ann.embDouble(spark, sf)
    val n = e.count()
    val cells = ops.Ann.semCells2l(spark, sf, e)
    assert(cells.count() === n, "two-level file lost or duplicated vectors")
    assert(cells.select("vec_id").distinct().count() === n)
    val got = SparkEntry.queries("dedup_semantic_2l")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    got.foreach { case (id, keeper, sim) =>
      assert(keeper < id); assert(sim >= 0.35)
    }
    val sp = SparkEntry.queries("dedup_semantic")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val tl = got.map(_._1).toSet
    info(s"single-level flagged ${sp.size}, two-level flagged ${tl.size}, " +
      s"overlap ${(sp & tl).size}")
  }

  test("int8 quantization replays bit-exactly driver-side (codes md5 + mse)") {
    val vs = ops.Ann.embDouble(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val dim = vs.head._2.length
    val mns = (0 until dim).map(d => vs.map(_._2(d)).min)
    val mxs = (0 until dim).map(d => vs.map(_._2(d)).max)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val want = vs.map { case (id, v) =>
      val codes = (0 until dim).map { d =>
        if (mxs(d) > mns(d))
          // same HALF_UP-on-double semantics as Spark's round()
          BigDecimal((v(d) - mns(d)) / (mxs(d) - mns(d)) * 255)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt
        else 0
      }
      var sse = 0.0
      (0 until dim).foreach { d =>
        val recon = mns(d) + codes(d).toDouble / 255 * (mxs(d) - mns(d))
        sse += (v(d) - recon) * (v(d) - recon)
      }
      (id, md5hex(codes.mkString(",")), r6(sse / dim))
    }.toSet
    val got = SparkEntry.queries("embed_quantize_int8")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === want)
  }

  test("NSW: every probe answered with 5 neighbors, recall@5 >= 0.9, " +
    "deterministic") {
    // embed_cosine_topk's exact set spans the FULL corpus; the NSW graph
    // holds probes out (vec_id >= 100), so the recall baseline is the
    // exact scan over the same held-out corpus, computed here.
    val e = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val corpus = e.where(col("vec_id") >= 100)
    val probes = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("q"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id"))
    val exactHeld = corpus.crossJoin(broadcast(probes))
      .withColumn("sim",
        round(graft.ops.Vector.cosine(col("q"), col("v")), 6))
      .withColumn("r", row_number().over(w)).where(col("r") <= 5)
      .select("q_id", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val nsw = topkSets("embed_ann_nsw")
    assert(nsw.keySet === exactHeld.keySet)
    nsw.values.foreach(s => assert(s.size === 5))
    val per = exactHeld.map { case (q, want) =>
      nsw.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
    }
    val r = per.sum / per.size
    info(s"NSW recall@5 = $r")
    // measured 1.0 at sf0.001/sf0.01 (beam nearly covers the test corpus
    // — the 0.94 sf0.1 number in the scaladoc is the honest one); floor
    // at 0.9 so a broken traversal trips while corpus regeneration noise
    // does not.
    assert(r >= 0.9, s"NSW recall@5 degenerated to $r")
    assert(topkSets("embed_ann_nsw") === topkSets("embed_ann_nsw"))
  }
}
