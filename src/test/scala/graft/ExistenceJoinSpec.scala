package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Joins.existenceJoin` plans a `left_semi` / `left_anti` join as a
  * shuffled hash join that builds on the right side, where Spark keeps
  * each build key once. Its rows must equal the broadcast plan's and a
  * driver-side replay on a fixture the TPC-H-style data does not give:
  * duplicate build keys, NULL keys on both sides, duplicate probe keys and
  * probe rows without a match (`join_left_anti` is empty at sf0.01).
  */
class ExistenceJoinSpec extends AnyFunSuite {
  import TestSpark._

  private val probeRows: Seq[(Option[Long], String)] = Seq(
    Some(1L) -> "a", Some(2L) -> "b", Some(3L) -> "c", Some(3L) -> "c2",
    Some(4L) -> "d", Some(5L) -> "e", Some(6L) -> "f",
    None -> "n1", None -> "n2")
  // 2, 3 and 5 repeat; 9 and 42 match no probe row; two NULL keys
  private val buildRows: Seq[(Option[Long], String)] = Seq(
    Some(2L) -> "x", Some(2L) -> "y", Some(2L) -> "z", Some(3L) -> "x",
    Some(3L) -> "y", Some(5L) -> "w", Some(5L) -> "x", Some(5L) -> "y",
    Some(5L) -> "z", Some(9L) -> "x", Some(42L) -> "x",
    None -> "n", None -> "m")

  /** Rows as a sorted multiset of strings: a semi join must keep both
    * probe rows of key 3, so a set compare would be too weak. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  test("existenceJoin matches the broadcast plan and a driver-side replay " +
       "on duplicate, NULL and unmatched keys") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_exists_")
    try {
      probeRows.toDF("pk", "name").write.parquet(s"$dir/probe")
      buildRows.toDF("bk", "tag").write.parquet(s"$dir/build")
      val probe = spark.read.parquet(s"$dir/probe")
      val build = spark.read.parquet(s"$dir/build")
      val cond = col("pk") === col("bk")
      val buildKeys = buildRows.flatMap(_._1).toSet
      for ((jt, planned, keep) <- Seq(
          ("left_semi", "LeftSemi", true), ("left_anti", "LeftAnti", false))) {
        val got = ops.Joins.existenceJoin(probe, build, cond, jt)
        val viaBroadcast = probe.join(broadcast(build), cond, jt)
        val expected = probeRows
          .filter { case (k, _) => k.exists(buildKeys) == keep }
          .map { case (k, n) => s"${k.map(_.toString).orNull}|$n" }.sorted
        assert(rows(got) === expected, s"$jt rows differ from the replay")
        assert(rows(viaBroadcast) === expected,
          s"$jt broadcast rows differ from the replay")
        val plan = got.queryExecution.executedPlan.toString
        val shj = ("ShuffledHashJoin \\[[^\\]]*\\], \\[[^\\]]*\\], " +
          s"$planned, BuildRight").r
        assert(shj.findFirstIn(plan).isDefined,
          s"$jt did not shuffle-hash:\n$plan")
        assert(!plan.contains("BroadcastHashJoin"), s"$jt broadcast:\n$plan")
        assert(viaBroadcast.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"), "the reference must broadcast")
      }
      // the fixture must exercise what it claims to
      val semi = rows(ops.Joins.existenceJoin(probe, build, cond, "left_semi"))
      assert(semi === Seq("2|b", "3|c", "3|c2", "5|e"),
        "semi keeps each matching probe row once, duplicates of it included")
      val anti = rows(ops.Joins.existenceJoin(probe, build, cond, "left_anti"))
      assert(anti.contains("null|n1") && anti.contains("null|n2"),
        "a NULL probe key matches nothing, so the anti join keeps it")
    } finally Staging.deleteRecursively(dir)
  }
}
