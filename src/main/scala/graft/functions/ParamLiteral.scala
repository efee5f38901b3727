package graft.functions

import scala.util.Try

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Between, BinaryComparison, Cast, CommonExpressionRef, Expression, LeafExpression, Literal, PlanExpression, With}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** A per-call constant that generated code reads from its `references`
  * array instead of inlining.
  *
  * Spark inlines primitive `Literal`s into the generated Java source
  * (`value >= 1704067200000000L`), and its codegen cache is keyed by that
  * source, so two calls of one plan shape with different bounds compile
  * their classes twice. A parameter keeps the literal's value and type but
  * emits `((java.lang.Long) references[i]).longValue()`: same-shape calls
  * produce identical source and hit the cache.
  *
  * It is deliberately NOT foldable. Constant folding would turn it back
  * into a `Literal`, and data-source filter translation only accepts
  * `Literal`s, so a comparison against a parameter stays in the `Filter`
  * and is not pushed to parquet row groups. Equality is the case-class
  * one: two parameters with different values are never `semanticEquals`,
  * so exchange reuse and the cache manager cannot merge their plans.
  * Only non-null integral, date and timestamp values are parameters;
  * strings and other objects already go through `references`. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && ParamLiteral.liftable(dataType),
    s"no parameter of type $dataType for value $value")

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = s"param($value)"
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val prim = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    ExprCode.forNonNullValue(JavaCode.expression(s"$ref.${prim}Value()", dataType))
  }
}

object ParamLiteral {
  private def liftable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** `lit(v)` for a per-call constant: a parameter when `v` is a non-null
    * integral, date or timestamp value, a plain literal otherwise. */
  def param(v: Any): Column = {
    val l = Literal(v)
    ColumnBridge.column(
      if (l.value != null && liftable(l.dataType)) ParamLiteral(l.value, l.dataType)
      else l)
  }

  /** The constant operand `e` of a comparison as a parameter: a literal,
    * or a cast of one, which is folded first exactly as constant folding
    * would fold it. */
  private def operand(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && liftable(dt) => ParamLiteral(v, dt)
    case c: Cast if c.child.isInstanceOf[Literal] && liftable(c.dataType) =>
      Try(c.eval()).toOption.filter(_ != null)
        .map(ParamLiteral(_, c.dataType)).getOrElse(c)
    case other => other
  }

  /** Lift the constant operands of comparisons and `BETWEEN`s in an
    * ANALYZED predicate into parameters, and return it as a Column that
    * resolves its attributes by name against whatever frame it filters.
    * Analysis already coerced every operand, so the lifted predicate has
    * exactly the original's types and results. Constants anywhere else
    * stay literals: a function argument may have to be foldable
    * (`round(x, 2)`), and an `IN` list of literals is what the optimizer
    * turns into a hash-set `INSET` and pushes to parquet, which a list
    * of parameters would lose. `BETWEEN` is replaced by its two
    * comparisons, the rewrite the optimizer applies to it anyway. `None`
    * when nothing was lifted, or when the predicate holds a subquery or
    * a `BETWEEN` over a computed expression; callers then keep their
    * original Column. */
  def liftComparisons(analyzed: Expression): Option[Column] = {
    if (analyzed.exists(_.isInstanceOf[PlanExpression[_]])) return None
    val flat = analyzed.transformUp {
      case b: Between => b.replacement
      case w: With if w.defs.forall(_.child.isInstanceOf[Attribute]) =>
        val bound = w.defs.map(d => d.id -> d.child).toMap
        w.child.transform {
          case r: CommonExpressionRef if bound.contains(r.id) => bound(r.id)
        }
    }
    if (flat.exists(_.isInstanceOf[With])) return None
    val lifted = flat.transformUp {
      case c: BinaryComparison => c.mapChildren(operand)
    }
    if (!lifted.exists(_.isInstanceOf[ParamLiteral])) None
    else Some(ColumnBridge.column(lifted.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    }))
  }
}
