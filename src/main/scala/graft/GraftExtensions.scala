package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{DotProductRewrite, NativeFunctions}

/** Library integration point: register graft's native Catalyst
  * functions, its optimizer and planner rules and its exchange sizing
  * through the standard extensions mechanism —
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * — so every session (incl. SQL-only users and thrift/connect fronts)
  * resolves them without per-call registry code. The in-repo operators
  * also self-register defensively ([[graft.functions.NativeFunctions]]
  * `.register`) so the library works when the user did not configure
  * extensions; both paths read the same table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    NativeFunctions.table.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    // users keep the portable HOF spelling of a dot product; the
    // optimizer swaps in the codegen'd DotF64 (same bits, tight loop)
    ext.injectOptimizerRule(_ => DotProductRewrite)
    // grouped top-k: the row_number()<=k window spelling plans as the
    // bounded-heap TopKPerGroupExec (logical node + strategy + exec)
    ext.injectOptimizerRule(_ => graft.plans.TopK.TopKRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.TopK.TopKStrategy)
    // each exchange's map side sized from the bytes that enter it
    ext.injectQueryStagePrepRule(graft.plans.ExchangeSizing(_))
  }
}
