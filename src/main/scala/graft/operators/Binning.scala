package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.SedFunctions.d2s

/** One histogram axis: `nBins` equal-width bins over [lo, hi], numpy
  * `histogramdd` edge semantics (both edges inclusive; the right-most edge
  * falls into the last bin). Mirrors sed's int+range bin spec
  * (reference: src/sed/binning/utils.py:16 simplify_binning_arguments,
  * numba_bin.py:15 _hist_from_bin_range).
  *
  * Each helper has a `...Sql` twin emitting the structurally identical
  * DuckDB expression so bin assignment is bit-identical in the oracle.
  */
case class BinAxis(col: String, nBins: Int, lo: Double, hi: Double) {
  require(nBins > 0 && hi > lo)
  val step: Double = (hi - lo) / nBins

  def idxName: String = s"${col}_bin"
  def centerName: String = s"${col}_center"

  def inRange(c: Column): Column = c >= lit(lo) && c <= lit(hi)
  def inRangeSql(e: String): String = s"($e >= ${d2s(lo)} AND $e <= ${d2s(hi)})"

  def idx(c: Column): Column =
    least(floor((c - lit(lo)) / lit(step)), lit(nBins - 1L)).cast("long")
  def idxSql(e: String): String =
    s"CAST(LEAST(FLOOR(($e - ${d2s(lo)}) / ${d2s(step)}), ${nBins - 1}) AS BIGINT)"

  def center(idxCol: Column): Column =
    lit(lo) + (idxCol.cast("double") + lit(0.5)) * lit(step)
  def centerSql(e: String): String =
    s"(${d2s(lo)} + (CAST($e AS DOUBLE) + 0.5) * ${d2s(step)})"
}

/** One histogram axis with EXPLICIT (non-uniform) edges — numpy
  * `histogramdd` explicit-edges semantics (bin i = [e_i, e_{i+1}), last
  * bin right-closed). Bin lookup is the native binary-search expression
  * [[org.apache.spark.sql.graft.BucketIdx]]; the `...Sql` twin emits a
  * descending CASE chain with identical semantics for the oracle. */
case class EdgeAxis(col: String, edges: Array[Double]) {
  require(edges.length >= 2)
  val nBins: Int = edges.length - 1
  def idxName: String = s"${col}_bin"

  def idx(c: Column): Column = org.apache.spark.sql.graft.BucketIdx(c, edges)

  def idxSql(e: String): String = {
    val n = edges.length
    val whens = (n - 2 to 1 by -1)
      .map(i => s"WHEN $e >= ${d2s(edges(i))} THEN $i").mkString(" ")
    // NULL must be caught explicitly: a NULL CASE condition is not-true,
    // so it would fall to ELSE 0 while the Spark side yields NULL/dropped
    s"CAST(CASE WHEN $e IS NULL OR $e < ${d2s(edges(0))} OR $e > ${d2s(edges(n - 1))} THEN -1 $whens ELSE 0 END AS BIGINT)"
  }
}

/** N-dimensional histogramming — sed's core compute step
  * (reference: src/sed/binning/binning.py:200 bin_dataframe).
  *
  * Spark-first design: bin assignment is a per-row codegen'd projection;
  * the histogram is ONE shuffle of map-side partial counts (output
  * cardinality is bounded by the product of bin counts, e.g. 256³,
  * regardless of input size), so the single shuffle moves at most
  * `∏ nBins` bins per task. Hash partial aggregation does the map side
  * for small and sparse bin products; dense ones count into chunk arrays
  * inside the codegen loop (see `aggregateBins`). That is the reference's
  * per-partition numba `histogramdd` + tree-reduce sum, distributed by
  * Catalyst.
  * The result is sparse (empty bins absent), which is the only sane
  * representation at 100 TB; `withCenters` adds physical axis coordinates.
  */
object Binning {

  /** Bin-count products at or below this take the dense-chunk kernel;
    * above it the sparse flat-key groupBy. Overridable per session
    * (`spark.conf.set`) for atypical bins-vs-rows shapes. */
  val DenseMaxBinsKey = "spark.graft.binning.denseMaxBins"
  val DefaultDenseMaxBins: Long = 1L << 22
  private val MaxChunkBits = 16
  // below this bin-count product a flat long-key hash aggregate is already
  // optimal (tiny hash map, codegen'd HashAggregateExec) — the chunked
  // object aggregate would only add posexplode overhead
  private val MinDenseBins = 1L << 12

  private def ceilLog2(n: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))

  /** Chunk width (in bits) for the dense path. Two constraints pull against
    * each other:
    *  - enough chunks (≥ ~4× parallelism when the bin product allows) that
    *    chunk merges spread over reducers — no single-reducer funnel even
    *    for small-product histograms;
    *  - few enough chunks that a map task's chunk-group count stays UNDER
    *    `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (the
    *    ObjectHashAggregate switches to sort-based aggregation of all
    *    remaining input at `size >= threshold` — catastrophic on billions
    *    of rows). We READ the session's threshold and size chunks to fit
    *    it; we never mutate it. On clusters with parallelism ≫ threshold,
    *    raise the conf to unlock more reduce groups.
    */
  private[graft] def chunkBits(total: Long, parallelism: Int, fallbackThreshold: Long): Int = {
    val maxChunks = math.max(8L, fallbackThreshold - 8)
    val targetChunks = math.min(maxChunks, math.max(32L, 4L * parallelism.toLong))
    val bits = ceilLog2(math.max(1L, (total + targetChunks - 1) / targetChunks))
    math.min(MaxChunkBits, math.max(0, bits))
  }

  /** Whether the dense-chunk path can keep a map task's chunk-group count
    * under the ObjectHashAggregate sort fallback. chunkBits caps the chunk
    * width at 2^MaxChunkBits, so once `denseMaxBins` is raised past
    * `threshold · 2^16` the group count would exceed the threshold and
    * every task would silently sort-fallback — in that regime the sparse
    * flat-key path is the right plan and the caller must fall through. */
  private[graft] def denseViable(total: Long, fallbackThreshold: Long): Boolean =
    (total + (1L << MaxChunkBits) - 1) >> MaxChunkBits <= math.max(8L, fallbackThreshold - 8)

  /** The histogram aggregation core, shared by every N-d entry point.
    *
    * Multi-axis bin tuples are first collapsed into ONE row-major long key
    * (`Σ idx_i · stride_i` — strides from the per-axis bin counts), so the
    * shuffle moves an 8-byte key instead of an N-column tuple and the
    * aggregate hashes a single long. The key is decomposed back into the
    * per-axis index columns after the aggregate (div/mod — pure arithmetic
    * on the already-tiny result).
    *
    * Three regimes on the bin-count product P:
    *  - P ≤ 4096: flat long-key hash aggregate — the group count is tiny,
    *    codegen'd HashAggregateExec is already optimal.
    *  - 4096 < P ≤ denseMaxBins (dense regime, bins can approach row
    *    count): the fused kernel. Map side,
    *    [[org.apache.spark.sql.graft.DenseHistPartial]] counts the key
    *    into per-task `long[2^chunkBits]` chunk arrays inside the
    *    whole-stage-codegen loop that computes it (NULL keys skipped
    *    there; no hash map, no per-row aggregate) and ships one
    *    varint-coded buffer per non-empty chunk — bounded by
    *    P/chunkSize rows per task, NOT by the number of distinct bin
    *    tuples. Reduce side, chunk c goes to reduce task c mod n
    *    (`repartitionById`, n = min(chunks, defaultParallelism): one
    *    wave) and the merge-only aggregate
    *    [[org.apache.spark.sql.graft.DenseHistChunk]] sums its buffers.
    *    `chunkBits` floors the chunk width so there are enough chunks to
    *    spread merges across reducers while the per-task chunk groups stay
    *    under the session's ObjectHashAggregate fallback threshold
    *    (read-only — no conf is mutated).
    *  - P > denseMaxBins (sparse regime — physics cubes like 256³ where
    *    occupancy, not P, is small): plain flat-key hash aggregate; partial
    *    agg collapses to the non-empty bins map-side.
    */
  /** Aggregates bin-index columns that may be NULL for out-of-range rows.
    *
    * Out-of-range dropping is deliberately NOT a pre-aggregation Filter:
    * PushDownPredicates would substitute the full derived-column
    * expressions (a calibration chain can embed dozens of deformation
    * lookups) into a scan-level predicate, and codegen'd Filter does no
    * subexpression elimination — measured 30× slower on the full-workflow
    * chain. A NULL key instead rides through the (CSE-capable) projection
    * + hash aggregate and is dropped from the TINY aggregated output.
    */
  private def aggregateBins(withIdx: DataFrame, bins: Seq[(String, Long)]): DataFrame = {
    val cnt = count(lit(1)).as("cnt")
    // NoPushBarrier: without it the isNotNull drop would be predicate-
    // pushed through the aggregate and re-derive the full axis expression
    // chain at the scan (see the barrier's Scaladoc)
    if (bins.size == 1) {
      val nm = bins.head._1
      return withIdx.groupBy(col(nm)).agg(cnt)
        .select(org.apache.spark.sql.graft.NoPushBarrier(col(nm)).as(nm), col("cnt"))
        .filter(col(nm).isNotNull)
    }
    val total = bins.map(_._2).reduce { (p, n) =>
      require(p <= Long.MaxValue / n, "bin-count product overflows Long"); p * n
    }
    // row-major strides: stride_i = Π nBins_{i+1..}
    val strides = bins.map(_._2).scanRight(1L)(_ * _).tail
    val key = bins.zip(strides).map { case ((nm, _), st) => col(nm) * lit(st) }.reduce(_ + _)
    val ss = withIdx.sparkSession
    val denseMax = ss.conf.getOption(DenseMaxBinsKey).map(_.toLong).getOrElse(DefaultDenseMaxBins)
    val fbKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val fb = ss.conf.get(fbKey, "128").toLong
    val keyed =
      if (total > MinDenseBins && total <= denseMax && denseViable(total, fb)) {
        val par = ss.sparkContext.defaultParallelism
        val bits = chunkBits(total, par, fb)
        val nChunks = ((total + (1L << bits) - 1) >> bits).toInt
        // one reduce wave: chunk c merges in reduce task c mod parts
        val parts = math.min(nChunks, par)
        org.apache.spark.sql.graft.DenseHistPartial(withIdx.select(key.cast("long").as("__k")), bits, nChunks)
          .withColumn("__part", (col("__chunk") % lit(parts.toLong)).cast("int"))
          .repartitionById(parts, col("__part"))
          .groupBy("__part", "__chunk")
          .agg(org.apache.spark.sql.graft.DenseHistChunk(col("__buf"), 1 << bits).as("__counts"))
          .select(col("__chunk"), posexplode(col("__counts")).as(Seq("__pos", "cnt")))
          .filter(col("cnt") > 0)
          .select((shiftleft(col("__chunk"), bits) + col("__pos")).as("__k"), col("cnt"))
      } else {
        withIdx.select(key.as("__k")).groupBy("__k").agg(cnt)
          .select(org.apache.spark.sql.graft.NoPushBarrier(col("__k")).as("__k"), col("cnt"))
          .filter(col("__k").isNotNull)
      }
    val outCols = bins.zip(strides).map { case ((nm, n), st) =>
      expr(s"(__k div ${st}L) % ${n}L").as(nm)
    } :+ col("cnt")
    keyed.select(outCols: _*)
  }

  /** Sparse N-d histogram: one row per non-empty bin, columns
    * `<axis>_bin`..., `cnt`. Out-of-range rows are dropped via NULL bin
    * keys (see aggregateBins — a pre-agg Filter would be predicate-pushed
    * through the calibration chain and re-derive every axis expression at
    * the scan without CSE). */
  def histogram(df: DataFrame, axes: Seq[BinAxis]): DataFrame = {
    val inRange = axes.map(a => a.inRange(df(a.col))).reduce(_ && _)
    val idxCols = axes.map(a => when(inRange, a.idx(df(a.col))).as(a.idxName))
    aggregateBins(df.select(idxCols: _*),
      axes.map(a => (a.idxName, a.nBins.toLong)))
  }

  /** Sparse N-d histogram over explicit-edge axes (out-of-range rows,
    * idx −1, are dropped — numpy semantics; same NULL-key technique as
    * `histogram`, layered so each BucketIdx evaluates once). */
  def histogramEdges(df: DataFrame, axes: Seq[EdgeAxis]): DataFrame = {
    val idxCols = axes.map(a => a.idx(df(a.col)).as(a.idxName))
    val ok = axes.map(a => col(a.idxName) >= 0).reduce(_ && _)
    val guarded = df.select(idxCols: _*)
      .select(axes.map(a => when(ok, col(a.idxName)).as(a.idxName)): _*)
    aggregateBins(guarded, axes.map(a => (a.idxName, a.nBins.toLong)))
  }

  def histogramEdgesSql(table: String, axes: Seq[EdgeAxis]): String = {
    val idxs = axes.map(a => s"${a.idxSql(a.col)} AS ${a.idxName}").mkString(", ")
    val names = axes.map(_.idxName).mkString(", ")
    val where = axes.map(a => s"${a.idxName} >= 0").mkString(" AND ")
    s"SELECT $names, COUNT(*) AS cnt FROM (SELECT $idxs FROM $table) WHERE $where GROUP BY $names"
  }

  /** Add bin-center coordinate columns (the xarray axes of the reference). */
  def withCenters(hist: DataFrame, axes: Seq[BinAxis]): DataFrame =
    axes.foldLeft(hist)((h, a) => h.withColumn(a.centerName, a.center(col(a.idxName))))

  /** Oracle SQL for `histogram` (+ optional centers), same expressions. */
  def histogramSql(table: String, axes: Seq[BinAxis], centers: Boolean = false,
                   extraWhere: String = ""): String = {
    val idxs = axes.map(a => s"${a.idxSql(a.col)} AS ${a.idxName}").mkString(", ")
    val where = axes.map(a => a.inRangeSql(a.col)).mkString(" AND ") +
      (if (extraWhere.nonEmpty) s" AND $extraWhere" else "")
    val names = axes.map(_.idxName).mkString(", ")
    val cents =
      if (centers) axes.map(a => s", ${a.centerSql(a.idxName)} AS ${a.centerName}").mkString
      else ""
    s"SELECT $names, COUNT(*) AS cnt$cents FROM (SELECT $idxs FROM $table WHERE $where) GROUP BY $names"
  }

  /** Acquisition-time normalization histogram: events of the *timed*
    * dataframe counted per axis bin (reference: binning.py:466
    * normalization_histogram_from_timed_dataframe; :430 the timestamp
    * variant is the same count over per-event timestamps). */
  def normalizationHistogram(timed: DataFrame, axis: BinAxis): DataFrame =
    histogram(timed, Seq(axis)).withColumnRenamed("cnt", "norm_cnt")

  /** Histogram normalized by a per-bin normalization histogram
    * (reference: src/sed/core/processor.py:2317 get_normalization_histogram
    * + the `binned / normalization` division in compute()). The join is on
    * bin index — both sides are bounded by the bin-count product, so Spark
    * broadcast-joins the normalization side; no large shuffle. */
  def normalizedHistogram(df: DataFrame, timed: DataFrame, axes: Seq[BinAxis],
                          normAxis: BinAxis): DataFrame = {
    val hist = histogram(df, axes)
    val norm = normalizationHistogram(timed, normAxis)
    hist.join(broadcast(norm), Seq(normAxis.idxName))
      .withColumn("intensity",
        col("cnt").cast("double") / col("norm_cnt").cast("double"))
  }

  /** Per-column 1-D diagnostic histograms, one stacked long-form frame
    * (reference: src/sed/diagnostics.py grid_histogram /
    * core/processor.py:2393 view_event_histogram). */
  def eventHistogram(df: DataFrame, axes: Seq[BinAxis]): DataFrame =
    axes.map { a =>
      histogram(df, Seq(a))
        .select(lit(a.col).as("axis"), col(a.idxName).as("bin"),
          a.center(col(a.idxName)).as("center"), col("cnt"))
    }.reduce(_ unionAll _)

  def eventHistogramSql(table: String, axes: Seq[BinAxis]): String =
    axes.map { a =>
      s"SELECT '${a.col}' AS axis, ${a.idxName} AS bin, ${a.centerSql(a.idxName)} AS center, cnt FROM (${histogramSql(table, Seq(a))})"
    }.mkString(" UNION ALL ")
}
