package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The engine's one word tokenizer and its one word n-gram window, each
  * with its DuckDB twin. A document's words are its text cut at every
  * single space: Spark `split(text, " ")` and DuckDB
  * `string_split(text, ' ')` cut alike, so double, leading and trailing
  * spaces yield empty words, the empty string is one empty word and a
  * NULL text stays NULL in both engines. Most keys read the lower-cased
  * words ([[lowered]]); a few count the words with their case kept
  * ([[raw]]). StagingSpec fails on a tokenizer spelling anywhere else
  * under src/main/scala. */
object Words {

  /** The lower-cased words of the document text. */
  val lowered: Column = split(lower(col("text")), " ")

  /** The words of the document text, case kept. */
  val raw: Column = split(col("text"), " ")

  /** The characters of string `s`. */
  def chars(s: Column): Column = split(s, "")

  /** DuckDB twin of [[lowered]] over the SQL text expression `text`. */
  def loweredSql(text: String): String = s"string_split(lower($text), ' ')"
  val LoweredSql: String = loweredSql("text")

  /** DuckDB twin of [[raw]] over the SQL text expression `text`. */
  def rawSql(text: String): String = s"string_split($text, ' ')"
  val RawSql: String = rawSql("text")

  /** DuckDB twin of [[chars]]. */
  def charsSql(s: String): String = s"string_split($s, '')"

  /** The lowered words unnested one row each as `word`, with their
    * 1-based position `pos` (unnest and generate_subscripts in one
    * SELECT zip positionally). */
  def positionedSql(word: String, pos: String): String =
    s"unnest($LoweredSql) AS $word, generate_subscripts($LoweredSql, 1) AS $pos"

  /** The word n-gram window over word array `t`: `f(i, ws)` for every
    * 1-based start i of n consecutive words ws = t[i .. i+n-1], in start
    * order. This is the one length guard: an array of fewer than n words
    * has no start (a `sequence(1, size - n + 1)` would descend into
    * indices `element_at` throws on under ANSI), and a NULL array stays
    * NULL. Pass `t` as a column reference (project the words first): the
    * lambda names `t` once per word of each window, and a lambda body is
    * evaluated per element with no common-subexpression elimination, so
    * a computed array there would be re-tokenized n times per word. */
  def window(t: Column, n: Int)(f: (Column, Seq[Column]) => Column): Column =
    transform(slice(t, lit(1), greatest(size(t) - (n - 1), lit(0))),
      (_, k) => f(k + 1, (1 to n).map(j => element_at(t, k + j))))

  /** The window's n-grams: each window's words joined by one space. */
  def grams(t: Column, n: Int): Column =
    window(t, n)((_, ws) => concat_ws(" ", ws: _*))

  /** The adjacent word pairs of `t` as `struct(w1, w2)`. */
  def pairs(t: Column): Column =
    window(t, 2)((_, ws) => struct(ws(0).as("w1"), ws(1).as("w2")))

  /** DuckDB twin of [[window]]'s starts over list `t`: `range` is
    * end-exclusive, so this is Spark's 1 .. size - n + 1, and it is empty
    * on its own for a list of fewer than n words. */
  def startsSql(t: String, n: Int): String =
    if (n == 2) s"range(1, len($t))" else s"range(1, len($t) - ${n - 2})"

  /** The n-gram of list `t` starting at `i`, words joined by one space. */
  def gramAtSql(t: String, i: String, n: Int): String =
    (0 until n).map(k => if (k == 0) s"$t[$i]" else s"$t[$i+$k]")
      .mkString(" || ' ' || ")

  /** DuckDB twin of [[grams]]. */
  def gramsSql(t: String, n: Int): String =
    s"list_transform(${startsSql(t, n)}, i -> ${gramAtSql(t, "i", n)})"

  /** Evaluates `v` once and hands it to `body` as a lambda variable.
    * Higher-order functions evaluate their lambda bodies interpreted, per
    * element, with no common-subexpression elimination, so a computed
    * array named inside a lambda body would be recomputed for every
    * element; a bound variable is a plain read. */
  private def bind(v: Column)(body: Column => Column): Column =
    get(transform(array(v), body), lit(0))

  /** Value counts of an array, computed inside the row: the distinct
    * values with their multiplicities, as `array<struct<v, c>>` in
    * ascending binary order. Sorts once; a run starts at each 1-based
    * position whose value differs (null-safe) from its left neighbour,
    * and runs until the next start. `get` is 0-based and NULL off either
    * end, so no index can throw under ANSI mode, and an empty array has
    * no runs. Cost per row: one O(n log n) sort plus O(n). */
  def valueCounts(xs: Column): Column = bind(array_sort(xs)) { s =>
    val n = size(s)
    bind(filter(sequence(lit(1), n),
        i => !(get(s, i - 1) <=> get(s, i - 2)))) { starts =>
      transform(starts, (st, k) => struct(
        get(s, st - 1).as("v"),
        (coalesce(get(starts, k + 1), n + 1) - st).as("c")))
    }
  }
}
