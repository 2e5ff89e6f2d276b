package graft.sparql

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Cluster-deployment route for graft's native Catalyst expressions
  * (SURVEY.md §7.3 tier (b) — the `SparkSessionExtensions` half of the
  * extension surface; `GraftShim.registerFunctions` is the live-session
  * half):
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.sparql.GraftSparkExtensions ...
  * }}}
  *
  * makes `encode_for_uri` (RFC 3986, SPARQL §17.4.2.8) and `vec_dot`
  * (allocation-free array<double> dot product) available to plain
  * `spark.sql` text on every session of the cluster — SQL users get
  * the same codegen'd expressions the engine uses internally, no UDF
  * registration or closure shipping involved.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftSparkExtensions.functions.foreach(ext.injectFunction)
}

object GraftSparkExtensions {
  /** Every native expression callable from SQL text: the one list both
    * this extension and `GraftShim.registerFunctions` register. The
    * descriptions are built once, so registering them again on a live
    * session replaces each entry with an identical one (idempotent). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    native("encode_for_uri", classOf[EncodeForUriExpr])(e => EncodeForUriExpr(e.head)),
    native("vec_dot", classOf[DotProductExpr])(e => DotProductExpr(e(0), e(1))))

  private def native(name: String, cls: Class[_])(build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)
}
