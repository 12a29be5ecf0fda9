package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.CosineSim

/** SparkSessionExtensions entry point: makes graft's native expressions
  * callable from SQL text. Activate with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (as `graft.GraftSession.builder` does) or programmatically via the
  * session builder's `withExtensions(new GraftExtensions)`; after that
  * `SELECT graft_cosine(a, b)` works in `spark.sql(...)` exactly like a
  * built-in (full codegen, no UDF tax).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectFunction(GraftExtensions.cosineDescriptor)
}

object GraftExtensions {
  val cosineDescriptor: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
    (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
      require(children.length == 2, "graft_cosine(a, b) takes exactly 2 arguments")
      CosineSim(children.head, children(1))
    })

  /** Register on an already-built session (used by tests and Verify). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val (id, info, builder) = cosineDescriptor
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }
}
