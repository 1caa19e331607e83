// Same packaging rationale as FloatVecDot.scala: logical/physical plan
// nodes, codegen plumbing and Dataset.ofRows are private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{BlockingOperatorWithCodegen, CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Map side of the dense binning kernel: counts the flat bin key `key`
  * (a non-negative long below `nChunks << bits`; NULL = out of range,
  * skipped) into per-task `long[1 << bits]` chunk arrays, allocated on
  * first touch, and emits one `(__chunk, __buf)` row per non-empty chunk
  * — `__buf` in [[DenseHistCodec]] form — once its input is exhausted.
  * The reference's per-partition array count (numba `histogramdd`,
  * src/sed/binning/numba_bin.py:104), as a Catalyst operator. */
case class DenseHistPartial(key: Expression, bits: Int, nChunks: Int,
                            output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): DenseHistPartial =
    copy(child = newChild)
}

object DenseHistPartial {
  /** `(__chunk, __buf)` rows counting `df`'s single long column; registers
    * [[DenseHistStrategy]] on `df`'s session first. */
  def apply(df: DataFrame, bits: Int, nChunks: Int): DataFrame = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    DenseHistStrategy.setup(session)
    val child = df.queryExecution.analyzed
    require(child.output.size == 1 && child.output.head.dataType == LongType,
      "DenseHistPartial counts one long key column")
    val out = Seq(AttributeReference("__chunk", LongType, nullable = false)(),
      AttributeReference("__buf", BinaryType, nullable = false)())
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      DenseHistPartial(child.output.head, bits, nChunks, out, child))
  }
}

/** Physical [[DenseHistPartial]]. Under whole-stage codegen the count
  * `chunks[k >>> bits][k & mask]++` is fused into the loop that computes
  * the key (scan → calibration projection → count, no row materialized
  * per event); `doExecute` is the same count for
  * `spark.sql.codegen.wholeStage=false` and codegen fallback. */
case class DenseHistPartialExec(key: Expression, bits: Int, nChunks: Int,
                                output: Seq[Attribute], child: SparkPlan)
  extends UnaryExecNode with BlockingOperatorWithCodegen {

  private def chunkSize: Int = 1 << bits

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(child.outputPartitioning.numPartitions)
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows")
    val (k, in, b, n, cs) = (key, child.output, bits, nChunks, chunkSize)
    child.execute().mapPartitionsInternal { rows =>
      val keyOf = UnsafeProjection.create(Seq(k), in)
      val chunks = new Array[Array[Long]](n)
      while (rows.hasNext) {
        val r = keyOf(rows.next())
        if (!r.isNullAt(0)) {
          val v = r.getLong(0)
          val c = (v >>> b).toInt
          if (chunks(c) == null) chunks(c) = new Array[Long](cs)
          chunks(c)((v & (cs - 1)).toInt) += 1L
        }
      }
      val toRow = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](LongType, BinaryType))
      (0 until n).iterator.filter(chunks(_) != null).map { c =>
        numOut += 1
        val row = toRow(InternalRow(c.toLong, DenseHistCodec.encode(chunks(c)))).copy()
        chunks(c) = null
        row
      }
    }
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  // name of the per-task chunk table, set by doProduce for doConsume
  private var chunksTerm: String = _

  override protected def doProduce(ctx: CodegenContext): String = {
    chunksTerm = ctx.addMutableState("long[][]", "denseChunks",
      v => s"$v = new long[$nChunks][];", forceInline = true)
    val counted = ctx.addMutableState("boolean", "denseCounted", forceInline = true)
    val next = ctx.addMutableState("int", "denseNextChunk", forceInline = true)
    val countFn = ctx.freshName("denseCount")
    val countFnName = ctx.addNewFunction(countFn,
      s"""
         |private void $countFn() throws java.io.IOException {
         |  ${child.asInstanceOf[CodegenSupport].produce(ctx, this)}
         |}
       """.stripMargin)
    val counts = ctx.freshName("counts")
    val chunkVar = ctx.freshName("chunk")
    val bufVar = ctx.freshName("buf")
    val outVars = Seq(
      ExprCode(FalseLiteral, JavaCode.variable(chunkVar, LongType)),
      ExprCode(FalseLiteral, JavaCode.variable(bufVar, BinaryType)))
    val numOut = metricTerm(ctx, "numOutputRows")
    val codec = DenseHistCodec.getClass.getName.stripSuffix("$")
    s"""
       |if (!$counted) {
       |  $counted = true;
       |  $countFnName();
       |}
       |while ($next < $nChunks) {
       |  long[] $counts = $chunksTerm[$next];
       |  long $chunkVar = (long) $next;
       |  $chunksTerm[$next] = null;
       |  $next++;
       |  if ($counts != null) {
       |    byte[] $bufVar = $codec.encode($counts);
       |    $numOut.add(1);
       |    ${consume(ctx, outVars)}
       |    if (shouldStop()) return;
       |  }
       |}
     """.stripMargin
  }

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    ctx.currentVars = input
    val k = BindReferences.bindReference(key, child.output).genCode(ctx)
    val kv = ctx.freshName("key")
    val counts = ctx.freshName("counts")
    val chunk = ctx.freshName("chunkIdx")
    s"""
       |${k.code}
       |if (!${k.isNull}) {
       |  long $kv = ${k.value};
       |  int $chunk = (int) ($kv >>> $bits);
       |  long[] $counts = $chunksTerm[$chunk];
       |  if ($counts == null) {
       |    $counts = new long[$chunkSize];
       |    $chunksTerm[$chunk] = $counts;
       |  }
       |  $counts[(int) ($kv & ${chunkSize - 1}L)]++;
       |}
     """.stripMargin
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DenseHistPartialExec =
    copy(child = newChild)
}

/** Plans [[DenseHistPartial]]. Registered per session by [[setup]] (the
  * logical node is only built through [[DenseHistPartial.apply]], which
  * calls it) and through [[GraftExtensions]] for sessions built with the
  * extension. */
object DenseHistStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: DenseHistPartial =>
      DenseHistPartialExec(p.key, p.bits, p.nChunks, p.output, planLater(p.child)) :: Nil
    case _ => Nil
  }

  /** Adds the strategy to `session` unless its planner already has it. */
  def setup(session: SparkSession): Unit =
    if (!session.sessionState.planner.strategies.contains(DenseHistStrategy))
      session.experimental.extraStrategies = DenseHistStrategy +: session.experimental.extraStrategies
}
