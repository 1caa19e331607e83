// Same packaging rationale as FloatVecDot.scala: LogicalRDD, Dataset.ofRows
// and SQLExecution are Spark internals.
package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.LongType

/** `df.localCheckpoint(true)` that also returns the (min, max, row count)
  * of its long column `c`, counted by the job that materializes `df` —
  * a caller that needs both pays one job, not a checkpoint plus an
  * aggregate. Runs under its own SQL execution id, like the Dataset
  * action, so query-execution listeners see it. The range is `None`
  * when `c` holds no non-NULL value (an empty `df` included). */
object LocalMaterialize {
  def withRange(df: DataFrame, c: String): (DataFrame, Option[(Long, Long, Long)]) = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val ord = ds.schema.fieldIndex(c)
    require(ds.schema(ord).dataType == LongType, s"column $c must be a long")
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      // (rows, min, max, any non-NULL) per partition; caching the
      // partitions as they stream by IS the checkpoint
      val parts = ds.sparkSession.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        var n = 0L
        var lo = Long.MaxValue
        var hi = Long.MinValue
        var seen = false
        it.foreach { r =>
          n += 1
          if (!r.isNullAt(ord)) {
            val v = r.getLong(ord)
            if (v < lo) lo = v
            if (v > hi) hi = v
            seen = true
          }
        }
        (n, lo, hi, seen)
      })
      val got = parts.filter(_._4)
      val range =
        if (got.isEmpty) None
        else Some((got.map(_._2).min, got.map(_._3).max, parts.map(_._1).sum))
      (Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)), range)
    }
  }
}
