package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared word n-gram window ([[graft.ops.Words.window]]) on arrays
  * shorter than its width, directly and through every key that reads
  * it: a `documents` corpus of 1-, 2- and 3-word docs, an empty and a
  * NULL doc, and long docs that share boilerplate 4-grams. No key may
  * throw, and `text_scrub_dup_spans` must return a short doc untouched
  * (nothing removed, the md5 of its own lowered text), as its DuckDB
  * oracle does. */
class WordsSpec extends AnyFunSuite {
  import TestSpark._
  import graft.ops.Words

  test("the window is empty below its width and NULL for a NULL array") {
    import spark.implicits._
    val rows = Seq("a b c", "a b", "solo", "", null).toDF("text")
      .select(Words.grams(Words.lowered, 3).as("g3"),
        Words.grams(Words.lowered, 2).as("g2"))
      .collect().map(r => (Option(r.getSeq[String](0)), Option(r.getSeq[String](1))))
    assert(rows.toSeq === Seq(
      (Some(Seq("a b c")), Some(Seq("a b", "b c"))),
      (Some(Seq()), Some(Seq("a b"))),
      (Some(Seq()), Some(Seq())),
      (Some(Seq()), Some(Seq())),
      (None, None)))
  }

  private val boiler = "the scan filter sort join merge window group"

  private val shortDocs: Seq[(Long, String)] = Seq(
    1L -> "Solo", 2L -> "a B", 3L -> "x Y z", 4L -> "", 5L -> null)

  /** Long docs: 6-9 and 97 (a benchmark doc for text_contamination) all
    * carry the boilerplate span, so its 4-grams have df ≥ 3. */
  private val longDocs: Seq[(Long, String)] =
    Seq(6L, 7L, 8L, 9L, 97L).map(id =>
      id -> s"w$id $boiler u$id")

  test("keys over the window do not throw on short, empty or NULL docs") {
    import spark.implicits._
    val docs = (shortDocs ++ longDocs).map { case (id, t) =>
      (id, t, "en", "srcA", Option(t).map(_.length.toLong).getOrElse(0L))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-words").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val stagingWas = sys.props.get("graft.staging")
    sys.props("graft.staging") = "false" // stage nothing for a temp corpus
    try {
      for (k <- Seq("text_scrub_dup_spans", "text_contamination",
                    "text_dup_spans", "text_bigram_nll",
                    "dedup_ngram_jaccard", "text_collocations"))
        withClue(s"$k: ") { SparkEntry.queries(k)(spark, dir).collect() }

      val scrub = SparkEntry.queries("text_scrub_dup_spans")(spark, dir)
        .collect().map(r => r.getLong(0) -> r).toMap
      def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      for ((id, t) <- shortDocs) {
        assert(scrub(id).getAs[Int]("n_removed") == 0, s"doc $id")
        if (t != null)
          assert(scrub(id).getAs[String]("clean_md5") ==
            md5(t.toLowerCase(java.util.Locale.ROOT)), s"doc $id")
      }
      // the boilerplate span is scrubbed from every long doc
      for ((id, _) <- longDocs)
        assert(scrub(id).getAs[Int]("n_removed") ==
          boiler.split(" ").length, s"doc $id")
      val contam = SparkEntry.queries("text_contamination")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(contam.keySet == Set(6L, 7L, 8L, 9L))
    } finally {
      stagingWas match {
        case Some(v) => sys.props("graft.staging") = v
        case None => sys.props -= "graft.staging"
      }
      Staging.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }
}
