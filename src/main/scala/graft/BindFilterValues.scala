package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A filter comparison's value that generated code reads at run time.
  * `Literal.doGenCode` pastes a primitive value into the Java source, and
  * the source text is the codegen cache key, so every new value compiles
  * a new class that starts out interpreted. This leaf hands the boxed
  * value to the class through `references` instead: the source is the
  * same for every value, and a repeated query shape runs the class it
  * already compiled and JIT-warmed. It prints exactly as its literal. */
case class BoundValue(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = lit.value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("boundValue", lit.value, CodeGenerator.boxedType(dataType))
    val v = ctx.addMutableState(javaType, "boundValue",
      v => s"$v = $boxed.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(v, dataType))
  }

  override def toString: String = lit.toString
  override def sql: String = lit.sql
}

/** Post-planner rule: inside every `FilterExec` condition, each non-null
  * primitive `Literal` operand of a comparison becomes a [[BoundValue]].
  * It runs on the physical plan only, so constant folding and the scan's
  * pushed filters (Parquet row-group pruning) still see the `Literal`.
  * `In`/`InSet`, `Like`/`RLike` and other expressions whose code depends
  * on a foldable argument are left alone. Idempotent, since AQE applies
  * it again whenever it re-plans. */
object BindFilterValues extends Rule[SparkPlan] {

  private def bindable(l: Literal): Boolean = l.value != null && (l.dataType match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  })

  private def bind(e: Expression): Expression = e match {
    case l: Literal if bindable(l) => BoundValue(l)
    case other => other
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val bound = f.condition.transformUp {
        case c: BinaryComparison => c.withNewChildren(c.children.map(bind))
      }
      if (bound fastEquals f.condition) f else f.copy(condition = bound)
  }
}
