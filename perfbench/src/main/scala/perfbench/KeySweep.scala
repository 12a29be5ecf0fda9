package perfbench

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry

/** Every key (or, with `relational`, every relational key) on one tier:
  * one pass that writes each key's full result to OUT_DIR/<key>, then one
  * warm pass on the benchmark's timed code path. Writes one JSON line per
  * key to OUT_DIR/keys.jsonl with its output row count, warm latency,
  * error and oracle SQL; `perfbench/measure_exclusions.py` derives the
  * workload exclusions and key costs from it. An optional comma-separated
  * key list restricts the sweep.
  *
  * Usage: KeySweep DATA_DIR OUT_DIR all|relational [k1,k2]
  */
object KeySweep {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, out, which) = args.take(3)
    val only = args.lift(3).map(_.split(',').toSet)
    val spark = Runner.session()
    val queries = SparkEntry.queries
    val keys = queries.keySet
      .filter(k => which == "all" || Runner.Relational.matches(k))
      .filter(k => only.forall(_(k))).toSeq.sorted
    val errors = scala.collection.mutable.Map[String, String]()
    def attempt[T](k: String)(f: => T): Option[T] =
      try Some(f) catch { case NonFatal(e) =>
        errors.getOrElseUpdate(k, s"${e.getClass.getSimpleName}: ${e.getMessage}"); None
      }
    keys.foreach { k =>
      attempt(k)(queries(k)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(Paths.get(out, k).toString))
    }
    val mapper = new ObjectMapper
    val w = Files.newBufferedWriter(Paths.get(out, "keys.jsonl"))
    try keys.foreach { k =>
      val t0 = System.nanoTime()
      val rows = attempt(k)(queries(k)(spark, dataDir).groupBy().count().collect().head.getLong(0))
      val m = new java.util.LinkedHashMap[String, Any]
      m.put("key", k); m.put("rows", rows.getOrElse(-1L))
      m.put("latency_s", (System.nanoTime() - t0) / 1e9)
      m.put("error", errors.get(k).orNull)
      m.put("oracle", SparkEntry.oracleSql.get(k).orNull)
      w.write(mapper.writeValueAsString(m) + "\n")
      w.flush()
    } finally { w.close(); spark.stop() }
  }
}
