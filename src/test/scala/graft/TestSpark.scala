package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole ScalaTest run (suites execute
  * sequentially in the forked test JVM; a per-suite session would pay
  * ~5 s of SparkContext startup each). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** Smallest scale factor: tests assert semantics, not throughput. */
  val sf = "/root/testdata/sf0.001"

  /** Rows as sorted seqs of strings — order-insensitive exact compare. */
  def rowSet(df: DataFrame): Set[Seq[String]] =
    df.collect().map(_.toSeq.map(String.valueOf)).toSet
}
