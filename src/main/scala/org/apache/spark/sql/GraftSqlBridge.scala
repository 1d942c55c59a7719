package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** Bridge into the private[sql] Column <-> Expression conversions for
  * graft's native Catalyst expressions ([[graft.functions.JsonExpressions]]),
  * and into the extensions of an already-built SparkSession. Spark 4 hides
  * both behind `private[sql]` (`classic.ExpressionUtils`,
  * `classic.SparkSession.extensions`); a same-package shim is the standard
  * seam extension libraries use when they cannot build the session
  * themselves (the engine receives it). */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager Column -> Expression conversion. `expression` wraps the
    * Column's node lazily (ColumnNodeExpression) and relies on plan
    * building to convert it — inside a FunctionRegistry builder nothing
    * ever does, so codegen would meet the raw wrapper. This runs the
    * converter immediately. */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Execute an already-parsed logical plan, with optional positional
    * parameters — what `SparkSession.sql(text, args)` does after its own
    * parse (parsedPlan -> PosParameterizedQuery -> Dataset.ofRows), minus
    * the parse. Lets the engine's statement cache (B4) actually skip the
    * ANTLR work on a hit; analysis still runs per execution, picking up
    * whatever temp views are registered NOW. */
  def ofRows(s: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      args: Array[Any] = Array.empty): DataFrame = {
    val cs = s.asInstanceOf[classic.SparkSession]
    // clone the cached tree: analysis mutates per-node state (tags /
    // resolution bookkeeping), so re-executing the SAME object after an
    // earlier failed analysis can replay the stale failure even though
    // the catalog has since changed
    val fresh = plan.clone()
    val wrapped =
      if (args.isEmpty) fresh
      else org.apache.spark.sql.catalyst.analysis.PosParameterizedQuery(
        // eager conversion: the arg validator demands real Literal nodes,
        // not the lazy ColumnNodeExpression wrapper `expression` returns
        fresh, args.toSeq.map(a => eagerExpression(functions.lit(a))))
    classic.Dataset.ofRows(cs, wrapped)
  }

  /** A primitive value that generated code reads from the `references`
    * array instead of inlining as a Java literal. Spark caches compiled
    * classes by their generated source, so an inlined key makes every
    * point read with a new key compile again; a hoisted one leaves the
    * source identical across values and the compiled class is reused.
    * Plan text renders it exactly as the Literal it replaced. */
  case class HoistedLiteral(value: Any, dataType: DataType) extends LeafExpression {
    override def foldable: Boolean = true
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = value
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val boxed = JavaCode.boxedType(dataType).code
      val prim = JavaCode.javaType(dataType).code
      val ref = ctx.addReferenceObj("hoisted", value, boxed)
      ev.copy(code = EmptyBlock, isNull = FalseLiteral,
        value = JavaCode.expression(s"$ref.${prim}Value()", dataType))
    }
    override def toString: String = Literal(value, dataType).toString
    override def sql: String = Literal(value, dataType).sql
  }

  /** Hoists the non-null primitive literals of Filter conditions and
    * Project lists, the operators a point read's generated code is built
    * from. Strings, decimals and binaries already reach generated code as
    * references. Scans keep their Literals (file-source pushdown needs
    * them) and so does every other operator (window frames among them). */
  object HoistLiterals extends Rule[SparkPlan] {
    private def hoistable(t: DataType): Boolean = t match {
      case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
          DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    private val hoist: PartialFunction[Expression, Expression] = {
      case Literal(v, t) if v != null && hoistable(t) => HoistedLiteral(v, t)
    }
    def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case f: FilterExec => f.transformExpressions(hoist)
      case p: ProjectExec => p.transformExpressions(hoist)
    }
  }

  private val hoistingInstalled = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSessionExtensions, java.lang.Boolean]())

  /** Install [[HoistLiterals]] on the session's extensions, once per
    * extensions instance. The columnar hook runs before whole-stage codegen
    * collapses operators, on the plain and the adaptive query-stage path.
    * Extensions are read when a session builds its state, so sessions made
    * by `newSession()` afterwards carry the rule. */
  def installLiteralHoisting(s: SparkSession): Unit = {
    val ext = s.asInstanceOf[classic.SparkSession].extensions
    hoistingInstalled.synchronized {
      if (hoistingInstalled.add(ext)) ext.injectColumnar(_ => new ColumnarRule {
        override def postColumnarTransitions: Rule[SparkPlan] = HoistLiterals
      })
    }
  }
}
