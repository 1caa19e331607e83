// Same packaging rationale as FloatVecDot.scala.
package org.apache.spark.sql.graft

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UserDefinedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType}

/** Bilinear interpolation of a dense 2-D grid at fractional index
  * coordinates (x, y) — the Spark-native form of sed's inverse-
  * deformation-field application (reference: src/sed/calibrator/
  * momentum.py:2105 `apply_dfield`, scipy `map_coordinates(order=1)`).
  *
  * Generated code reads the grid from a broadcast shared by every plan
  * over the same grid array ([[Bilinear2D.broadcastGrid]]), fetched once
  * per task — so a chain rebuilt per pass ships a broadcast handle, not
  * the grid, in each task binary; where no broadcast can be made (code
  * generated inside a task) the grid rides along as a plan reference
  * object instead. It is never embedded in the generated source or
  * re-read per row. Out-of-range coordinates are
  * clamped to the grid edge (map_coordinates `mode='nearest'`-compatible
  * for the in-hull use sed makes of it). Evaluation is branch-light
  * codegen inside the projection: zero shuffles, arbitrarily wide scans.
  */
case class Bilinear2D(left: Expression, right: Expression,
                      grid: Array[Double], rows: Int, cols: Int)
    extends BinaryExpression with ExpectsInputTypes with UserDefinedExpression {
  // UserDefinedExpression marks this NON-CHEAP for CollapseProject: a
  // multi-referenced alias of this expression must stay materialized in
  // its own projection instead of being inlined (= re-evaluated) into
  // every consumer -- inlining turned one dfield lookup into 34 in the
  // full-workflow plan and dominated its runtime
  override def name: String = prettyName

  require(grid.length == rows * cols, "grid must be rows*cols row-major")
  require(rows >= 2 && cols >= 2, "bilinear needs a >= 2x2 grid") // x0+1/y0+1 lookups

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "bilinear2d"

  @inline private def clamp(v: Double, hi: Int): Double =
    if (v < 0.0) 0.0 else if (v > hi) hi.toDouble else v

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = clamp(a.asInstanceOf[Double], rows - 1)
    val y = clamp(b.asInstanceOf[Double], cols - 1)
    val x0 = math.min(x.toInt, rows - 2).max(0)
    val y0 = math.min(y.toInt, cols - 2).max(0)
    val fx = x - x0
    val fy = y - y0
    val g00 = grid(x0 * cols + y0)
    val g01 = grid(x0 * cols + y0 + 1)
    val g10 = grid((x0 + 1) * cols + y0)
    val g11 = grid((x0 + 1) * cols + y0 + 1)
    g00 * (1 - fx) * (1 - fy) + g10 * fx * (1 - fy) +
      g01 * (1 - fx) * fy + g11 * fx * fy
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gridRef = Bilinear2D.broadcastGrid(grid) match {
      case Some(bc) =>
        val bcRef = ctx.addReferenceObj("gridBroadcast", bc)
        ctx.addMutableState("double[]", "grid", v => s"$v = (double[]) $bcRef.value();",
          forceInline = true)
      case None => ctx.addReferenceObj("grid", grid, "double[]")
    }
    nullSafeCodeGen(ctx, ev, (xa, ya) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val x0 = ctx.freshName("x0"); val y0 = ctx.freshName("y0")
      val fx = ctx.freshName("fx"); val fy = ctx.freshName("fy")
      s"""
         |double $x = $xa < 0.0 ? 0.0 : ($xa > ${rows - 1} ? ${rows - 1}.0 : $xa);
         |double $y = $ya < 0.0 ? 0.0 : ($ya > ${cols - 1} ? ${cols - 1}.0 : $ya);
         |int $x0 = java.lang.Math.max(java.lang.Math.min((int) $x, ${rows - 2}), 0);
         |int $y0 = java.lang.Math.max(java.lang.Math.min((int) $y, ${cols - 2}), 0);
         |double $fx = $x - $x0;
         |double $fy = $y - $y0;
         |${ev.value} = $gridRef[$x0 * $cols + $y0] * (1 - $fx) * (1 - $fy)
         |  + $gridRef[($x0 + 1) * $cols + $y0] * $fx * (1 - $fy)
         |  + $gridRef[$x0 * $cols + $y0 + 1] * (1 - $fx) * $fy
         |  + $gridRef[($x0 + 1) * $cols + $y0 + 1] * $fx * $fy;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Bilinear2D {
  /** Identity of a grid array within one SparkContext. */
  private final class GridKey(val grid: Array[Double], val sc: SparkContext) {
    override def hashCode: Int = System.identityHashCode(grid) * 31 + System.identityHashCode(sc)
    override def equals(o: Any): Boolean = o match {
      case k: GridKey => (k.grid eq grid) && (k.sc eq sc)
      case _ => false
    }
  }

  // the most recently used grids' broadcasts; an evicted one is cleaned
  // up by Spark's ContextCleaner once no plan references it
  private val MaxCached = 8
  private val cache = new java.util.LinkedHashMap[GridKey, Broadcast[Array[Double]]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[GridKey, Broadcast[Array[Double]]]): Boolean =
      size > MaxCached
  }

  /** The broadcast of `grid` on the active SparkContext, made once per grid
    * array; `None` inside a task (code generated on an executor). */
  def broadcastGrid(grid: Array[Double]): Option[Broadcast[Array[Double]]] =
    if (TaskContext.get() != null) None
    else SparkContext.getActive.filterNot(_.isStopped).map { sc =>
      cache.synchronized {
        val key = new GridKey(grid, sc)
        var bc = cache.get(key)
        if (bc == null) { bc = sc.broadcast(grid); cache.put(key, bc) }
        bc
      }
    }

  def apply(x: Column, y: Column, grid: Array[Double], rows: Int, cols: Int): Column =
    ExpressionUtils.column(Bilinear2D(
      ExpressionUtils.expression(x), ExpressionUtils.expression(y), grid, rows, cols))
}
