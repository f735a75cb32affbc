// Lives under org.apache.spark.sql (same convention as VectorExpressions):
// the codegen block API it emits into is catalyst-internal.
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.DataType

/** A primitive literal whose generated code does not contain its value.
  *
  * Spark splices a primitive `Literal` into the generated Java as a
  * constant, so `o_custkey % 64 = 3` and `o_custkey % 64 = 4` are two
  * different classes and every new binding pays a Janino compile. This
  * leaf hands its value to the generated class through the `references`
  * array and copies it into a field once per instance, so the source
  * text, and with it Spark's compiled-class cache key, is the same for
  * every value (SnappyData's `ParamLiteral` is the precedent).
  *
  * It is not foldable, so no rule constant-folds it back, and it is only
  * introduced after optimization by [[graft.plans.StableFilterLiterals]].
  * The value stays part of the case-class equality, so canonicalized
  * plans that differ only in a bound value stay different: exchange
  * reuse never merges two such branches. `toString`/`sql` print the
  * literal, so EXPLAIN output reads as before.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "ParamLiteral carries a non-null primitive")

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }
}
