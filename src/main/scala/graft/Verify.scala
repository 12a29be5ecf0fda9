package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated key filter for fast single-key
    // iteration (the driver always passes exactly two args).
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, k) => (s, o, Some(k.split(',').toSet))
    }
    // Fail fast on a misspelled key — a silently-empty filter would
    // write no results yet let the oracle check report "0 fail".
    only.foreach { keys =>
      val unknown = keys -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(",")}")
    }
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    // Failures are LOUD: a crashed query is recorded in errors.json and a
    // final "[verify] N failed" line, never just dropped — a silently
    // missing dump shrinks CORRECTNESS_r{N}.json and reads as "0 fail"
    // (exactly how the round-7/8 events regression went unnoticed).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    val ran = SparkEntry.queries.count { case (n, _) => only.forall(_.contains(n)) }
    println(s"[verify] ${errors.size} failed of $ran" +
      (if (errors.nonEmpty) s": ${errors.keys.mkString(",")}" else ""))
    spark.stop()
  }
}
