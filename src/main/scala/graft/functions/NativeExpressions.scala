package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.catalyst.expressions.graft.codegenShim

/** Native Catalyst expressions for the hot kernels (SURVEY.md §4.3.2:
  * promote UDF hot paths to codegen expressions). Unlike a Scala UDF,
  * these stay inside whole-stage codegen: no boxing, no encoder
  * round-trip, null handling generated inline. */

/** lat/lon (deg) -> STARE sid at a level: codegen emits a direct static
  * call into the allocation-free kernel. */
case class StareSidExpression(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  // inputs are cast at the builder (NativeExpressions); AbstractDataType
  // is private[sql], so ExpectsInputTypes is not usable from here
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true // null in -> null out: lets
  // the optimizer rewrite IsNotNull(stare_sid(...)) to IsNotNull(inputs)
  // instead of re-evaluating the encode in pushed null checks
  override def prettyName: String = "stare_sid"

  override protected def nullSafeEval(lat: Any, lon: Any, level: Any): Any =
    graft.core.Htm.latLonToSid(lat.asInstanceOf[Double], lon.asInstanceOf[Double], level.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, lon, level) => s"graft.core.Htm.latLonToSid($lat, $lon, $level)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** sid -> the level-L trixel containing it: (sid & clearMask(L)) | L,
  * the fixed-level clear behind every prefix equi-join key.
  *
  * Fused prefix encode: when the child is a literal-level stare_sid
  * (pointJoin's key after CollapseProject is
  * knownnotnull(stare_clear_to(stare_sid(lat, lon, 26), 6))), eval and
  * codegen skip the child and run the descent for L levels only
  * (Htm.latLonToSidPrefix): bit-equal to the clear of the full encode,
  * since the clear drops every deeper bit. A child already computed as
  * a common subexpression is reused instead. */
case class StareClearToExpression(child: Expression, level: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "stare_clear_to"
  override def sql: String = s"$prettyName(${child.sql}, $level)"

  private val mask = graft.core.Sid.clearMask(level)

  /** (lat, lon) of a literal-level encode child the clear can fuse
    * with. Both levels must be in 0..MaxLevel: the encode ORs its level
    * in, so a negative one sets every bit and one of 32 or more sets
    * location bits, which the clear of the full encode keeps. */
  @transient private lazy val fused: Option[(Expression, Expression)] = {
    def inRange(l: Int) = l >= 0 && l <= graft.core.Sid.MaxLevel
    child match {
      case StareSidExpression(lat, lon, lv) if inRange(level) && lv.foldable =>
        lv.eval() match {
          case l: Int if inRange(l) => Some((lat, lon))
          case _                    => None
        }
      case _ => None
    }
  }

  override def eval(input: InternalRow): Any = fused match {
    case Some((lat, lon)) =>
      val la = lat.eval(input)
      if (la == null) null
      else {
        val lo = lon.eval(input)
        if (lo == null) null
        else graft.core.Htm.latLonToSidPrefix(la.asInstanceOf[Double], lo.asInstanceOf[Double], level)
      }
    case None => super.eval(input)
  }

  override protected def nullSafeEval(sid: Any): Any = (sid.asInstanceOf[Long] & mask) | level

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = fused match {
    case Some((lat, lon)) if !codegenShim.isSubexpression(ctx, child) =>
      val la = lat.genCode(ctx)
      val lo = lon.genCode(ctx)
      ev.copy(code = code"""
        ${la.code}
        boolean ${ev.isNull} = ${la.isNull};
        long ${ev.value} = -1L;
        if (!${ev.isNull}) {
          ${lo.code}
          ${ev.isNull} = ${lo.isNull};
          if (!${ev.isNull}) {
            ${ev.value} = graft.core.Htm.latLonToSidPrefix(${la.value}, ${lo.value}, $level);
          }
        }""")
    case _ => defineCodeGen(ctx, ev, sid => s"(($sid) & ${mask}L) | ${level}L")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** sid -> temporal-style clear to own level (dynamic-level variant of
  * StareClearToExpression). */
case class StareClearExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "stare_clear"

  override protected def nullSafeEval(sid: Any): Any =
    graft.core.Sid.clearToLevel(sid.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, sid => s"graft.core.Sid.clearToLevel($sid)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** sid intersects a (driver-prepared) cover: the flattened interval
  * runs are an expression field, shipped to executors through the
  * codegen reference array (`ctx.addReferenceObj`) — no driver-side
  * static state, so the plan works on a real multi-executor cluster. */
case class StareIntersectsCoverExpression(child: Expression, flatRuns: Array[Long])
  extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "stare_intersects_cover"

  override protected def nullSafeEval(sid: Any): Any =
    graft.core.Sid.intervalOverlapsFlat(sid.asInstanceOf[Long], flatRuns)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val runsRef = ctx.addReferenceObj("coverRuns", flatRuns, "long[]")
    defineCodeGen(ctx, ev, sid => s"graft.core.Sid.intervalOverlapsFlat($sid, $runsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NativeExpressions {
  def stareSidNative(lat: Column, lon: Column, level: Column): Column =
    shim.column(StareSidExpression(
      shim.expression(lat.cast("double")), shim.expression(lon.cast("double")),
      shim.expression(level.cast("int"))))

  def stareClearToNative(sid: Column, level: Int): Column =
    shim.column(StareClearToExpression(shim.expression(sid.cast("long")), level))

  def stareClearNative(sid: Column): Column =
    shim.column(StareClearExpression(shim.expression(sid.cast("long"))))

  def stareIntersectsCoverNative(sid: Column, flatRuns: Array[Long]): Column =
    shim.column(StareIntersectsCoverExpression(shim.expression(sid.cast("long")), flatRuns))

  /** Planner hint: this column is never null (e.g. a join key derived
    * from an indexed, non-null sid). Stops InferFiltersFromConstraints
    * from adding an IsNotNull(key) filter that re-evaluates the whole
    * key expression — one extra encode per row in the headline join. */
  def knownNotNull(c: Column): Column =
    shim.column(org.apache.spark.sql.catalyst.expressions.KnownNotNull(shim.expression(c)))
}
