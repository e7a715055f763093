package org.apache.spark.sql.catalyst.expressions.graft

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionEquals}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext

/** Bridge to code-generation state that Spark keeps private to its
  * expressions package. */
object codegenShim {
  /** True when code generation already holds `e` as an eliminated
    * common subexpression (its value is computed once per row). */
  def isSubexpression(ctx: CodegenContext, e: Expression): Boolean =
    ctx.subExprEliminationExprs.contains(ExpressionEquals(e))
}
