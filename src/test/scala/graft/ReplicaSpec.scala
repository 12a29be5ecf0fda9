package graft

import graft.tools.ScaleProbe
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The scale harness's replica tier ([[ScaleProbe.writeReplica]]) at
  * sf0.001, m = 3: ids stay unique, the star's references stay inside
  * their replica, and the document replicas keep the near-dup pair graph
  * m disjoint copies of the original — the properties that let a scale
  * leg's output grow m× without inventing cross-replica work. */
class ReplicaSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  private val m = 3
  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft-replica-spec").toString
    ScaleProbe.writeReplica(spark, sf, d, m)
    d
  }
  override def afterAll(): Unit =
    Staging.deleteRecursively(java.nio.file.Paths.get(dir))
  private def src(t: String) = Tables.table(spark, sf, t)
  private def rep(t: String) = spark.read.parquet(Tables.path(dir, t))

  test("replicated tables hold m× rows with unique ids; the rest are copied once") {
    for ((t, id) <- Seq("events" -> "event_id", "customer" -> "c_custkey",
           "customer" -> "c_name", "orders" -> "o_orderkey",
           "documents" -> "doc_id", "embeddings" -> "vec_id")) {
      val n = src(t).count()
      assert(rep(t).count() === m * n, t)
      assert(rep(t).select(id).distinct().count() === m * n, s"$t.$id")
    }
    for (t <- Seq("lineitem", "nation", "part", "region", "supplier"))
      assert(rep(t).count() === src(t).count(), t)
  }

  test("every order resolves to a customer of its own replica") {
    val orders = rep("orders")
    val joined = orders.join(rep("customer"),
      col("o_custkey") === col("c_custkey"))
    assert(joined.count() === orders.count())
    assert(joined.where(floor(col("o_orderkey") / 100000000L) =!=
      floor(col("c_custkey") / 10000000L)).count() === 0)
  }

  test("documents: no cross-replica near-dup pair, every original pair in every replica") {
    val orig = ops.Dedup.ngramJaccardPairs(src("documents")
      .select("doc_id", "text")).select("doc_a", "doc_b")
    assert(orig.count() > 0, "sf0.001 has no near-dup pair to preserve")
    val pairs = ops.Dedup.ngramJaccardPairs(rep("documents")
      .select("doc_id", "text")).select("doc_a", "doc_b")
    assert(pairs.where(floor(col("doc_a") / 10000000L) =!=
      floor(col("doc_b") / 10000000L)).count() === 0)
    val copies = orig.withColumn("k", explode(sequence(lit(0L), lit(m - 1L))))
      .select((col("doc_a") + col("k") * 10000000L).as("doc_a"),
        (col("doc_b") + col("k") * 10000000L).as("doc_b"))
    assert(copies.except(pairs).count() === 0)
  }
}
