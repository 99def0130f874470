package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types._

/** A comparison constant passed to generated code BY REFERENCE instead of
  * being spliced into its Java source.
  *
  * `Literal` inlines primitive values (`o_totalprice > 1234.5D`), so two
  * requests that differ only in a `$where` constant generate two different
  * sources and Janino compiles both. Here the value travels in the
  * generated class's `references` array and is read once per class
  * instance into a primitive field — the path Spark already takes for
  * string and decimal literals — so every constant of one request shape
  * shares one compiled class.
  *
  * Not foldable: the optimizer must not fold it back, and Spark's code
  * generators must not specialise on it. `toString`, `sql`, equality and
  * hashing are the wrapped `Literal`'s, so `explain` text, canonical plans
  * and exchange reuse are unchanged. Built only by
  * [[graft.plans.ParameterizeFilterConstants]], after physical planning.
  */
case class CodegenParam(literal: Literal) extends LeafExpression {
  require(literal.value != null && CodegenParam.supports(literal.dataType),
    s"CodegenParam takes a non-null primitive, date or timestamp, got $literal")

  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", literal.value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object CodegenParam {
  /** The types `Literal` splices into generated source as Java literals. */
  def supports(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DoubleType | FloatType | ShortType |
         ByteType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
