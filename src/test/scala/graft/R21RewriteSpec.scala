package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused law tests for the round-21 wave-5 rewrites: each declared key
  * whose INTERNALS changed is replayed here in its pre-rewrite (naive)
  * formulation on the test corpus and the two must agree row-for-row.
  * The oracle gate already proves engine-vs-DuckDB equality; these pin
  * the REWRITE step itself (map-side zipped bigrams ≡ the lead() window
  * pairs; grouping sets over finest-grain partial sums ≡ grouping sets
  * over raw fact rows) so a future edit to either side is caught at
  * test scale without a DuckDB round trip. */
class R21RewriteSpec extends AnyFunSuite {
  import TestSpark._

  test("text_repetition: zipped-adjacency bigrams ≡ lead()-window formulation") {
    import org.apache.spark.sql.expressions.Window
    // The declared key counts words and zipped bigrams inside each row;
    // the reference explodes tokens and counts by shuffling on doc_id.
    val declared = SparkEntry.queries("text_repetition")(spark, sf)
    // pre-rewrite formulation: posexplode + lead() over (doc_id, pos),
    // null lead at doc end dropped, counts by groupBy + a per-doc
    // row_number window — verbatim the shape the key ran before wave 5.
    val tok = Tables.table(spark, sf, "documents")
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
    val wc = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val dw = Window.partitionBy("doc_id")
    val topw = wc
      .withColumn("n_words", sum("c").over(dw))
      .withColumn("n_distinct", count(lit(1)).over(dw))
      .withColumn("rk", row_number().over(
        dw.orderBy(col("c").desc, col("w"))))
      .where(col("rk") === 1)
      .select(col("doc_id"), col("w").as("top_word"), col("c").as("mc"),
        col("n_words"), col("n_distinct"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bc = tok
      .withColumn("bg", concat(col("w"), lit(" "), lead("w", 1).over(w)))
      .where(col("bg").isNotNull)
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
    val bmx = bc.groupBy("doc_id").agg(max("c").as("bc"))
    val naive = topw.join(bmx, "doc_id")
      .select(col("doc_id"), col("n_words"), col("top_word"),
        round(col("mc") / col("n_words"), 6).as("top_word_frac"),
        round(lit(1.0) - col("n_distinct") / col("n_words"), 6)
          .as("dup_word_frac"),
        round(col("bc") / (col("n_words") - lit(1)), 6)
          .as("top_bigram_frac"))
    assert(rowSet(declared) === rowSet(naive))
    assert(declared.count() > 0)
  }

  test("agg_grouping_sets: finest-grain pre-aggregate ≡ direct grouping sets") {
    val declared = SparkEntry.queries("agg_grouping_sets")(spark, sf)
    // pre-rewrite formulation: grouping sets straight over the joined
    // fact rows (the Expand-over-corpus shape).
    val li = Tables.table(spark, sf, "lineitem")
    val sup = Tables.table(spark, sf, "supplier")
    val nat = Tables.table(spark, sf, "nation")
    val naive = li
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), year(col("l_shipdate")).cast("int").as("yr"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .groupingSets(
        Seq(Seq(col("n_name"), col("yr")), Seq(col("n_name")), Seq()),
        col("n_name"), col("yr"))
      .agg(round(sum(col("rev")), 2).as("revenue"))
    assert(rowSet(declared) === rowSet(naive))
    assert(declared.count() > 0)
  }
}
