package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, DataSourceV2Strategy}
import org.apache.spark.sql.types._

import graft.sources.GraftScan
import graft.spatial.GraftFileIndex

/** A non-null constant whose generated code reads the value from the
  * compiled class's `references` array instead of inlining it. Spark's
  * own [[Literal]] writes a primitive into the Java source (`12.5D`), so
  * every distinct constant yields a distinct class and a fresh Janino
  * compile; with `ParamLiteral` the source text depends only on the
  * expression's shape, and one compiled class serves every value.
  *
  * Evaluation, equality and canonicalization keep the value: two plans
  * that differ only in their constants are never `sameResult`, so
  * exchange and subquery reuse stay correct.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  // foldable like the Literal it replaces: expressions that evaluate a
  // constant argument once (a rounding scale, a kernel's set) still do
  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = s"param(${Literal(value, dataType)})"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(CodeGenerator.javaType(dataType), "param", v => s"$v = $ref;")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Planner hook for the filter directly above a graft scan — the V1
  * `FileSourceScanExec` over [[GraftFileIndex]] and the DSv2
  * `BatchScanExec` over [[GraftScan]]. It plans the scan with Spark's own
  * strategy, then turns the `FilterExec` condition's primitive-backed
  * numeric, date and timestamp literals into [[ParamLiteral]]s, so every
  * lookup of one shape (an `ST_Intersects` window's four bbox bounds, an
  * `attr < m` bound) reuses one compiled, JIT-warm class.
  *
  * Pushdown has run by then: the file index, the DSv2 scan's pushed
  * filters and parquet `PushedFilters` keep the real literals, so file
  * and row-group pruning are unchanged. Literals Spark already reads from
  * `references` (decimals, strings, binaries) stay as they are.
  */
object ParameterizeScanFilters extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(_, _,
        LogicalRelation(HadoopFsRelation(_: GraftFileIndex, _, _, _, _, _), _, _, _, _)) =>
      FileSourceStrategy(plan).map(parameterize)
    case PhysicalOperation(_, _, DataSourceV2ScanRelation(_, _: GraftScan, _, _, _)) =>
      // one strategy object serves every session; planning runs with its
      // session active
      val session = SparkSession.active.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      new DataSourceV2Strategy(session)(plan).map(parameterize)
    case _ => Nil
  }

  private def parameterize(p: SparkPlan): SparkPlan = p.transform {
    case f: FilterExec => f.copy(condition = f.condition.transform {
      case Literal(v, dt) if v != null && inlined(dt) => ParamLiteral(v, dt)
    })
  }

  private def inlined(dt: DataType): Boolean = dt match {
    case _: DecimalType => false
    case _: NumericType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
