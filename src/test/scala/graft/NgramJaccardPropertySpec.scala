package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property for the PPJoin pipelines (ops/Dedup
  * ngramJaccardFromGrams and containmentFromGrams, which share the
  * df-ordered prefix builder): on GENERATED corpora — tiny docs,
  * duplicated docs, shared-prefix docs, Zipfian docs whose hot grams the
  * df-ordered prefix keeps out of the index — the prefix + length +
  * positional filters must be LOSSLESS, i.e. the pipeline's output equals
  * a brute-force all-pairs exact Jaccard ≥ 0.8 (containment ≥ 0.9).
  * Seeds are pinned; corpora are built to contain near-dups by
  * construction (mutated copies) so the property isn't vacuous.
  */
class NgramJaccardPropertySpec extends AnyFunSuite {
  import TestSpark._

  private val wordGen: Gen[String] =
    Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")

  /** A base doc of 3..30 words. */
  private val docGen: Gen[List[String]] =
    Gen.choose(3, 30).flatMap(n => Gen.listOfN(n, wordGen))

  /** Mutations that keep the copy near the original: drop a word, append a
    * word, or leave identical. */
  private def mutate(doc: List[String], m: Int): List[String] = m % 3 match {
    case 0 => doc
    case 1 => if (doc.length > 3) doc.tail else doc
    case 2 => doc :+ "omega"
  }

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(seed + i)))

  private def trigrams(doc: List[String]): Set[String] =
    if (doc.length < 3) Set.empty
    else doc.sliding(3).map(_.mkString(" ")).toSet

  private def bruteForce(docs: Seq[(Long, List[String])]): Set[(Long, Long, Double)] = {
    val grams = docs.map { case (id, d) => id -> trigrams(d) }
      .filter(_._2.nonEmpty)
    (for {
      (a, ga) <- grams; (b, gb) <- grams if a < b
      inter = (ga & gb).size
      jac = inter.toDouble / (ga.size + gb.size - inter)
      if jac >= 0.8
    } yield (a, b, BigDecimal(jac)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
  }

  /** Brute-force directional containment ≥ 0.9: (doc, container,
    * inter, |doc|, containment rounded 6dp) for every ordered pair. */
  private def bruteContainment(docs: Seq[(Long, List[String])])
      : Set[(Long, Long, Long, Long, Double)] = {
    val grams = docs.map { case (id, d) => id -> trigrams(d) }
      .filter(_._2.nonEmpty)
    (for {
      (a, ga) <- grams; (b, gb) <- grams if a != b
      inter = (ga & gb).size
      if inter * 10 >= ga.size * 9
    } yield (a, b, inter.toLong, ga.size.toLong,
      BigDecimal(inter.toDouble / ga.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
  }

  private def toGrams(docs: Seq[(Long, List[String])]) = {
    import spark.implicits._
    ops.Dedup.ngramGrams(docs.map { case (id, d) => (id, d.mkString(" ")) }
      .toDF("doc_id", "text"))
  }

  private def viaPipeline(docs: Seq[(Long, List[String])]): Set[(Long, Long, Double)] =
    ops.Dedup.ngramJaccardFromGrams(toGrams(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Zipfian corpus: rank-weighted word choice (P(rank r) ∝ 1/r over 20
    * words) makes a few grams appear in most docs — the hot-gram shape the
    * df-ordered prefix exists for. */
  private def zipfCorpus(seed: Long): Seq[(Long, List[String])] = {
    val rnd = new scala.util.Random(seed)
    val vocab = (1 to 20).map(i => s"w$i")
    val weights = vocab.indices.map(i => 1.0 / (i + 1))
    val cum = weights.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    def word(): String = {
      val x = rnd.nextDouble() * total
      vocab(cum.indexWhere(x <= _))
    }
    val bases = (0 until 10).map { i =>
      i.toLong -> List.fill(5 + rnd.nextInt(20))(word())
    }
    // planted near-dups so the lossless property isn't vacuous
    bases ++ bases.map { case (id, d) => (100L + id) -> mutate(d, id.toInt) }
  }

  /** Round `round`'s corpus: 12 generated originals + a mutated copy of
    * each (guaranteed high-J pairs), plus a Zipfian corpus at ids 1000+. */
  private def corpus(round: Int): Seq[(Long, List[String])] = {
    val bases = sample(docGen, 12, seed = 1000L * round + 7)
    bases.zipWithIndex.flatMap { case (d, i) =>
      Seq((i.toLong, d), (100L + i, mutate(d, i + round)))
    } ++ zipfCorpus(seed = 31L * round + 5).map { case (id, d) => (1000L + id, d) }
  }

  test("pipeline == brute force on 5 generated corpora with planted near-dups") {
    for (round <- 0 until 5) {
      val docs = corpus(round)
      val want = bruteForce(docs)
      val got = viaPipeline(docs)
      assert(got === want, s"round $round: pipeline diverged from brute force")
      assert(want.exists(_._1 < 1000) && want.exists(_._1 >= 1000),
        s"round $round: vacuous corpus (no true pairs in one of its halves)")
    }
  }

  test("containment pipeline == brute force on 5 generated corpora") {
    for (round <- 0 until 5) {
      val docs = corpus(round)
      val want = bruteContainment(docs)
      val got = ops.Dedup.containmentFromGrams(toGrams(docs)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSet
      assert(got === want, s"round $round: containment diverged from brute force")
      // a pair whose reverse fails keeps the directional test non-vacuous
      assert(want.exists { case (a, b, _, _, _) =>
        !want.exists(q => q._1 == b && q._2 == a) },
        s"round $round: vacuous corpus (no one-way containment)")
    }
  }

  test("df-ordered prefix is lossless on Zipfian corpora (flag off == flag on == brute force)") {
    // The prefix order is no longer a flag: both settings are the one
    // df-ordered plan. Both PPJoin shapes that build that prefix — the
    // self-join and the batch-vs-index join (index df only) — must equal
    // brute force on the hot-gram corpora alone.
    for (round <- 0 until 3) {
      val docs = zipfCorpus(seed = 31L * round + 5)
      val want = bruteForce(docs)
      assert(want.nonEmpty, s"round $round: vacuous Zipfian corpus")
      assert(viaPipeline(docs) === want,
        s"round $round: df-ordered self-join diverged from brute force")
      val (newer, older) = docs.partition(_._1 >= 100L)
      val index = toGrams(older)
      val across = ops.Dedup
        .ngramJaccardAcross(toGrams(newer), index, ops.Dedup.gramDfOf(index))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val wantAcross = want.collect {
        case (a, b, j) if a < 100L && b >= 100L => (b, a, j)
      }
      assert(wantAcross.nonEmpty, s"round $round: no pair crosses the split")
      assert(across === wantAcross,
        s"round $round: df-ordered cross join diverged from brute force")
    }
  }

  test("incremental dedup: asymmetric PPJoin equals brute force across the split") {
    // Generated corpus with planted mutations; the batch-vs-corpus
    // variant must equal the brute-force cross pairs exactly (losslessness
    // of the asymmetric prefix filter), on several split points.
    val bases = sample(docGen, 30, seed = 101)
    val docs: Seq[(Long, List[String])] = bases.zipWithIndex.flatMap {
      case (d, i) => Seq((i.toLong * 2, d), (i.toLong * 2 + 1, mutate(d, i)))
    }
    for (bound <- Seq(10L, 30L, 55L)) {
      val (newer, older) = docs.partition(_._1 >= bound)
      val expected = bruteForce(docs).collect {
        case (a, b, j) if b >= bound && a < bound => (b, a, j)
      } // brute force orders a<b; incremental reports (new, old)
      val index = toGrams(older)
      val got = ops.Dedup
        .ngramJaccardAcross(toGrams(newer), index, ops.Dedup.gramDfOf(index))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === expected, s"asymmetric PPJoin diverged at split $bound")
    }
  }

  test("dedup_incremental equals the full pair set filtered to the boundary") {
    // Through the declared key on the real corpus: every reported
    // (new, old) pair must appear in the independently-verified full
    // pair list, and vice versa for pairs crossing the 90% boundary.
    val pairs = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val mx = 499L // documents doc_ids are 0..499 at every test SF
    val expected = pairs.collect {
      case (a, b, j) if b * 10 >= mx * 9 && a * 10 < mx * 9 => (b, a, j)
    }.toSet
    val got = SparkEntry.queries("dedup_incremental")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected,
      "dedup_incremental diverged from the full pair set at the boundary")
  }

  test("degenerate docs: shorter than 3 tokens never pair, never crash") {
    val docs = Seq((1L, List("a")), (2L, List("a", "b")),
      (3L, List("a", "b", "c")), (4L, List("a", "b", "c")))
    val got = viaPipeline(docs)
    assert(got === Set((3L, 4L, 1.0)))
  }
}
