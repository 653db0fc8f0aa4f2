package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{DenseDot, FloatVecDot, SimHash64}

/** SparkSessionExtensions installer for the engine's native expressions —
  * enable with `spark.sql.extensions=graft.GraftExtensions` at session
  * build time, after which `graft_vec_dot`, `graft_simhash64` and
  * `graft_dense_dot(vec, weights, bias)` (constant weights and bias) are
  * plain SQL functions. (The engine's own query functions also register
  * them lazily via the session functionRegistry, so the driver harness
  * works without this config; the extension is the deployment route for
  * external users.) */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "graft_vec_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        FloatVecDot(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_dense_dot"),
      new ExpressionInfo(classOf[DenseDot].getName, "graft_dense_dot"),
      DenseDot.build _))
    e.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SimHash64(exprs.head)))
  }
}
