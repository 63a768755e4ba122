package graft.functions.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.types._

/** A literal whose value the generated code reads from the plan's
  * REFERENCES array instead of writing it into the Java source.
  *
  * Spark's `Literal` inlines numeric, date and timestamp values as Java
  * constants (`… == 9549L`), so two statements that differ only by such a
  * value generate two classes and pay two Janino compiles; the second class
  * also runs its hot loop in the bytecode interpreter until the JIT compiles
  * it. With the value
  * behind a reference the source is identical for every value, so the
  * codegen cache hands back the already compiled (and JIT-warm) class — the
  * [[ArgminSqDist]] trick, generalised by [[graft.sql.LiftLiterals]], the
  * physical rule that places these.
  *
  * A case class, so equality and canonicalization include the value: exchange
  * and subquery reuse never merge two subtrees that differ only by a literal.
  * Floating-point values compare by bits, so `-0.0` and `0.0` stay distinct
  * and NaN equals NaN. Not foldable, so no rule or codegen path copies the
  * value back into the source. `toString` and `sql` are the `Literal`'s, so
  * plans and `explain` print the value exactly as before.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && ParamLiteral.liftable(dataType),
    s"ParamLiteral takes a non-null primitive, date or timestamp value, got $value: $dataType")

  private def literal: Literal = Literal(value, dataType)
  private def key: Any = value match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case f: Float => java.lang.Float.floatToIntBits(f)
    case v => v
  }

  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral => dataType == p.dataType && key == p.key
    case _ => false
  }
  override def hashCode: Int = (dataType, key).##

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // one field per literal, set once from references when the class is
    // initialised: the per-row cost is a field read
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("paramLiteral", value)
    val field = ctx.addMutableState(javaType, "paramLiteral",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object ParamLiteral {
  /** The types whose `Literal` codegen writes the value into the source;
    * every other type already goes through references.
    */
  def liftable(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
