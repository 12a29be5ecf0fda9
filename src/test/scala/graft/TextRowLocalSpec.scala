package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The per-document text keys that count words and bigrams inside the
  * row (`text_repetition`, `text_entropy`): each is replayed on the
  * driver over an edge-case fixture, `text_entropy` is checked against
  * its explode + groupBy formulation on the corpus and the fixture, and
  * both output schemas are pinned. The term frequencies behind
  * `text_tfidf`, `text_bm25` and `text_rrf_fusion` are counted inside the
  * row the same way and checked against their explode + groupBy form. */
class TextRowLocalSpec extends AnyFunSuite {
  import TestSpark._
  import graft.ops.TextQuality.{entropy, repetition}

  /** Edge cases the sort-and-run counting must get right: top-word and
    * bigram ties, empty tokens from double/leading/trailing spaces, a
    * one-word, an empty-string and a NULL-text doc, and words whose
    * binary (UTF-8 byte) order differs from locale order (accented vs
    * plain Latin) and from UTF-16 order (a supplementary-plane emoji vs
    * a fullwidth letter). */
  private val fixtureRows: Seq[(Long, String)] = Seq(
    1L -> "b a b a c",
    2L -> "a b a b c d c d",
    3L -> " lead  double trailing ",
    4L -> "solo",
    5L -> "",
    6L -> null,
    7L -> "Zebra zebra École ecole étude Étude fête z",
    8L -> "😀 ｚ 😀 ｚ",
    9L -> "  ",
    10L -> "the scan the filter the sort scan")

  private lazy val fixture: DataFrame = {
    import spark.implicits._
    fixtureRows.toDF("doc_id", "text")
  }

  private def words(text: String): Seq[String] =
    text.toLowerCase(java.util.Locale.ROOT).split(" ", -1).toSeq

  /** Value counts in ascending UTF-8 byte order (Spark's string order). */
  private def counts(xs: Seq[String]): Seq[(String, Int)] =
    xs.groupBy(identity).map { case (w, g) => w -> g.size }.toSeq
      .sortWith((a, b) => java.util.Arrays.compareUnsigned(
        a._1.getBytes(UTF_8), b._1.getBytes(UTF_8)) < 0)

  /** Spark's `round(double, 6)`: HALF_UP on the shortest decimal repr. */
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def replayRepetition(rows: Seq[(Long, String)]): Set[Seq[String]] =
    rows.collect { case (id, t) if t != null && words(t).size >= 2 =>
      val ws = words(t)
      val n = ws.size
      val wc = counts(ws)
      val mc = wc.map(_._2).max
      val bc = counts(ws.zip(ws.tail).map { case (a, b) => s"$a $b" })
        .map(_._2).max
      Seq[Any](id, n, wc.find(_._2 == mc).get._1, r6(mc.toDouble / n),
        r6(1.0 - wc.size.toDouble / n), r6(bc.toDouble / (n - 1)))
        .map(String.valueOf)
    }.toSet

  private def replayEntropy(rows: Seq[(Long, String)]): Set[Seq[String]] =
    rows.collect { case (id, t) if t != null =>
      val ws = words(t)
      val n = ws.size
      val wc = counts(ws)
      val ent = wc.foldLeft(0.0) { case (acc, (_, c)) =>
        val p = c.toDouble / n
        acc - p * math.log(p)
      }
      Seq[Any](id, n, wc.size, r6(ent)).map(String.valueOf)
    }.toSet

  test("text_repetition ≡ driver-side replay on the edge-case fixture") {
    val got = rowSet(repetition(fixture))
    assert(got === replayRepetition(fixtureRows))
    // the ties resolve to the smallest word in binary order
    val top = repetition(fixture).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(top(1L) == "a")
    assert(top(3L) == "")
    assert(top(7L) == "zebra")
    assert(top(8L) == "ｚ")
    assert(!top.contains(4L) && !top.contains(5L) && !top.contains(6L))
  }

  test("text_entropy ≡ driver-side replay on the edge-case fixture") {
    val got = rowSet(entropy(fixture))
    assert(got === replayEntropy(fixtureRows))
    val ids = entropy(fixture).collect().map(_.getLong(0)).toSet
    assert(ids.contains(4L) && ids.contains(5L) && !ids.contains(6L))
  }

  /** `text_entropy` as it ran before counting moved inside the row:
    * explode → groupBy(doc_id, w) → groupBy(doc_id) with the fold over
    * `array_sort(collect_list(struct(w, c)))` — verbatim. */
  private def explodeEntropy(docs: DataFrame): DataFrame = {
    val wc = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    def p(x: Column) = x("c").cast("double") / col("n_toks")
    wc.groupBy("doc_id")
      .agg(sum("c").as("n_toks"), count(lit(1)).as("n_distinct"),
        array_sort(collect_list(struct(col("w"), col("c")))).as("lst"))
      .select(col("doc_id"), col("n_toks"), col("n_distinct"),
        round(aggregate(col("lst"), lit(0.0),
          (acc, x) => acc - p(x) * log(p(x))), 6).as("ent"))
      .orderBy("doc_id")
  }

  test("text_entropy: row-local counts ≡ explode + groupBy formulation") {
    val declared = SparkEntry.queries("text_entropy")(spark, sf)
    val corpus = Tables.table(spark, sf, "documents")
    assert(rowSet(declared) === rowSet(explodeEntropy(corpus)))
    assert(declared.count() > 0)
    assert(rowSet(entropy(fixture)) === rowSet(explodeEntropy(fixture)))
  }

  /** tf and dl as they were built before counting moved inside the row:
    * explode → groupBy(doc_id, term), dl = Σ tf per doc. */
  private def explodeTf(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    tf.join(tf.groupBy("doc_id").agg(sum("tf").as("dl")), "doc_id")
      .select("doc_id", "dl", "term", "tf")
  }

  test("in-row tf ≡ explode + groupBy(doc_id, term) formulation") {
    import graft.ops.Text.termFreqs
    assert(rowSet(termFreqs(fixture)) === rowSet(explodeTf(fixture)))
    // ties, empty tokens and the NULL-text doc (no rows) on the fixture
    val tf = termFreqs(fixture).collect()
      .map(r => (r.getLong(0), r.getString(2)) -> r.getLong(3)).toMap
    assert(tf((1L, "a")) == 2L && tf((1L, "b")) == 2L && tf((1L, "c")) == 1L)
    assert(tf((3L, "")) == 3L && tf((9L, "")) == 3L && tf((5L, "")) == 1L)
    assert(!tf.keys.exists(_._1 == 6L))
    val corpus = Tables.table(spark, sf, "documents")
    val got = termFreqs(corpus)
    assert(got.count() > 0)
    assert(rowSet(got) === rowSet(explodeTf(corpus)))
    assert(got.schema.map(f => f.name -> f.dataType) == Seq(
      "doc_id" -> LongType, "dl" -> LongType,
      "term" -> StringType, "tf" -> LongType))
  }

  test("text_repetition and text_entropy output schemas are pinned") {
    def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(shape(SparkEntry.queries("text_repetition")(spark, sf)) == Seq(
      "doc_id" -> LongType, "n_words" -> LongType,
      "top_word" -> StringType, "top_word_frac" -> DoubleType,
      "dup_word_frac" -> DoubleType, "top_bigram_frac" -> DoubleType))
    assert(shape(SparkEntry.queries("text_entropy")(spark, sf)) == Seq(
      "doc_id" -> LongType, "n_toks" -> LongType,
      "n_distinct" -> LongType, "ent" -> DoubleType))
  }
}
