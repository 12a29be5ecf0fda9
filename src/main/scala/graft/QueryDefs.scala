package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

object QueryDefs {
  /** The driver contract's query-function shape: (session, sfDir) => result. */
  type Q = (SparkSession, String) => DataFrame
}

/** Memoized child sessions for keys whose semantics REQUIRE non-default
  * planner confs (CBO on, runtime bloom filters sized for test SF).
  *
  * Why a child session and not `s.conf.set`: a returned DataFrame is
  * planned lazily, at ACTION time — a conf set during construction and
  * restored afterwards would never reach the optimizer, and one left set
  * would leak into every OTHER key's plan (CBO flips the whole stats
  * visitor; a lowered broadcast threshold would de-broadcast every
  * hint-free dim join that runs later). `newSession()` shares the
  * SparkContext and the external catalog (so staged/ANALYZEd tables are
  * visible) but owns its conf — the returned frame carries the scoped
  * session, and nothing else in the JVM sees the overrides.
  *
  * Memoized per (parent, tag, confs) so the sweep's and Bench's repeated
  * constructions reuse one child; weak keys so children die with their
  * parent. The CONFS are part of the memo key on purpose: keying by tag
  * alone made the first caller win silently, so a test carrying a
  * hand-copied conf list could drift from the declared key's and one of
  * the two would plan under the other's stale confs (r15 review
  * finding). Two callers with the same tag but different confs now each
  * get a session configured exactly as they asked. */
object Scoped {
  import java.util.concurrent.ConcurrentHashMap
  private val memo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[String, SparkSession]]())
  def session(parent: SparkSession, tag: String,
              confs: Seq[(String, String)]): SparkSession = {
    val perParent = memo.synchronized {
      var m = memo.get(parent)
      if (m == null) { m = new ConcurrentHashMap(); memo.put(parent, m) }
      m
    }
    val key = tag + "|" +
      confs.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";")
    perParent.computeIfAbsent(key, _ => {
      val child = parent.newSession()
      confs.foreach { case (k, v) => child.conf.set(k, v) }
      child
    })
  }
}

/** Determinism helpers (SURVEY.md §7.3): every declared query must end in a
  * total order with a unique tie-break key, and every aggregated double must
  * be rounded so Spark and the DuckDB oracle hash-match on written parquet.
  */
object D {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{count, pmod, round, sum}
  def r2(c: Column): Column = round(c, 2)
  def r6(c: Column): Column = round(c, 6)

  /** The mean of `c / 10^scale`, rounded HALF_UP to `places` decimals and
    * decided on integers, for an integral non-negative `c`: with
    * u = 10^(places − scale), floor((2u·Σc + n) / 2n) / 10^places.
    * Rounding the double `avg` instead can sit on a tie in the last kept
    * place, where Spark (shortest decimal string) and DuckDB (binary
    * value) disagree, and where a summation error breaks the tie either
    * way. The oracle spells it `(2u * sum(c) + count(c)) //
    * (2 * count(c)) / 10^places`. */
  def avgHalfUp(c: Column, scale: Int, places: Int): Column = {
    val n = count(c)
    val u = BigInt(10).pow(places - scale).toInt
    intDiv(sum(c) * (2 * u) + n, n * 2) / math.pow(10, places)
  }

  /** `round(avg(c), 2)` decided on integers, for an integral non-negative
    * `c` ([[avgHalfUp]] at scale 0). */
  def avg2(c: Column): Column = avgHalfUp(c, 0, 2)

  /** Exact long integer division a div b for non-negative operands: the
    * subtract-remainder numerator is an exact multiple of b, so the
    * double division is exact (for a below 2^53) and the cast is safe. */
  def intDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")
}
