package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{DenseHistCodec, DenseHistPartialExec, DenseHistStrategy}

class BinningSpec extends SparkSpecBase {
  import spark.implicits._

  test("histogram matches a driver-side reference count (numpy edge semantics)") {
    val ax = BinAxis("value", 10, 0.0, 500.0)
    val got = Binning.histogram(events, Seq(ax))
      .select("value_bin", "cnt").as[(Long, Long)].collect().toMap
    val vals = events.select("value").as[Double].collect()
    val exp = vals.filter(v => v >= 0.0 && v <= 500.0)
      .groupBy(v => math.min(math.floor(v / 50.0).toLong, 9L))
      .view.mapValues(_.length.toLong).toMap
    assert(got == exp)
  }

  test("right edge falls into the last bin") {
    val ax = BinAxis("v", 4, 0.0, 4.0)
    val got = Binning.histogram(Seq(0.0, 1.0, 4.0, 3.9999).toDF("v"), Seq(ax))
      .select("v_bin", "cnt").as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 1L, 1L -> 1L, 3L -> 2L))
  }

  test("out-of-range rows are dropped") {
    val ax = BinAxis("v", 2, 0.0, 2.0)
    val got = Binning.histogram(Seq(-0.1, 0.5, 2.1).toDF("v"), Seq(ax))
      .agg(sum("cnt")).as[Long].head()
    assert(got == 1L)
  }

  test("bin centers are lo + (i+0.5)*step") {
    val ax = BinAxis("v", 4, 0.0, 8.0)
    val got = Binning.withCenters(
      Binning.histogram(Seq(1.0, 3.0).toDF("v"), Seq(ax)), Seq(ax))
      .select("v_bin", "v_center").as[(Long, Double)].collect().toMap
    assert(got == Map(0L -> 1.0, 1L -> 3.0))
  }

  test("histogramEdges: non-uniform edges, [e_i,e_{i+1}) with closed last bin") {
    val edges = Array(0.0, 1.0, 10.0, 100.0)
    val ax = EdgeAxis("v", edges)
    val data = Seq(-0.5, 0.0, 0.99, 1.0, 9.99, 10.0, 99.0, 100.0, 100.1)
    val got = Binning.histogramEdges(data.toDF("v"), Seq(ax))
      .select("v_bin", "cnt").as[(Long, Long)].collect().toMap
    // -0.5,100.1 dropped; [0,1):2, [1,10):2, [10,100]:3
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 3L))
  }

  test("histogramEdges drops NaN and null values") {
    val ax = EdgeAxis("v", Array(0.0, 1.0, 2.0))
    val df = Seq(Some(0.5), Some(Double.NaN), None, Some(1.5)).toDF("v")
    val got = Binning.histogramEdges(df, Seq(ax))
      .select("v_bin", "cnt").as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 1L, 1L -> 1L))
  }

  test("histogramEdges matches the uniform histogram when edges are uniform") {
    val uni = BinAxis("value", 10, 0.0, 500.0)
    val edges = EdgeAxis("value", Array.tabulate(11)(_ * 50.0))
    val a = Binning.histogram(events, Seq(uni)).select("value_bin", "cnt")
      .as[(Long, Long)].collect().toMap
    val b = Binning.histogramEdges(events, Seq(edges)).select("value_bin", "cnt")
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("normalizedHistogram divides by the per-bin normalization") {
    val ax = BinAxis("value", 5, 0.0, 500.0)
    val out = Binning.normalizedHistogram(events, events, Seq(ax), ax)
    val bad = out.filter(col("intensity") =!= col("cnt") / col("norm_cnt")).count()
    assert(bad == 0)
    // normalizing a df by itself -> intensity 1 everywhere
    assert(out.filter(col("intensity") =!= 1.0).count() == 0)
  }

  test("chunkBits: enough chunks for reduce parallelism, under the agg fallback threshold") {
    // 10^4-bin histogram, 32-way parallelism, default threshold 128:
    // chunk count must be >= parallelism (no single-reducer funnel) and
    // < threshold (no sort-based fallback)
    val total = 10000L
    val bits = Binning.chunkBits(total, 32, 128)
    val chunks = (total + (1L << bits) - 1) >> bits
    assert(chunks >= 32, s"only $chunks chunks at bits=$bits")
    assert(chunks < 128, s"$chunks chunks would trip the 128-group fallback")
    // dense 4M-bin cube: chunk arrays capped at 2^16 longs (512 KB)
    assert(Binning.chunkBits(1L << 22, 32, 128) <= 16)
    // a raised threshold may unlock more chunks but must never be exceeded
    val b2 = Binning.chunkBits(1L << 22, 1024, 65536)
    assert(((1L << 22) >> b2) < 65536)
    assert(((1L << 22) >> b2) >= 64)
  }

  test("building and running a histogram never mutates session confs") {
    val fbKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val before = spark.conf.getOption(fbKey)
    // dense-chunk regime: 50*50*20 = 50000 bins > MinDenseBins
    val axes = Seq(BinAxis("value", 50, 0.0, 500.0), BinAxis("user_id", 50, 0.0, 150.0),
      BinAxis("m", 20, 0.0, 97.0))
    val df = events.withColumn("m", ($"event_id" % 97).cast("double"))
    val hist = Binning.histogram(df, axes)
    assert(spark.conf.getOption(fbKey) == before, "conf mutated at plan-build time")
    val total = hist.agg(sum("cnt")).as[Long].head()
    val expected = df.filter($"value".between(0, 500) && $"user_id".between(0, 150)).count()
    assert(total == expected)
    assert(spark.conf.getOption(fbKey) == before, "conf mutated at execution time")
  }

  test("dense path is skipped when 2^16-wide chunks would trip the agg fallback") {
    // boundary algebra: default threshold 128 caps the dense regime at
    // ~120 * 2^16 bins regardless of how high denseMaxBins is raised
    assert(Binning.denseViable(1L << 22, 128))
    assert(!Binning.denseViable(1L << 24, 128)) // 256 chunks > 120
    assert(Binning.denseViable(1L << 24, 1024)) // raised threshold unlocks it
    // functional: denseMaxBins raised past threshold*2^16 must fall through
    // to the sparse flat-key plan (not ship a sort-fallback dense plan)
    val denseHist = Binning.histogram(
      events.withColumn("m", ($"event_id" % 97).cast("double")),
      Seq(BinAxis("value", 50, 0.0, 500.0), BinAxis("user_id", 50, 0.0, 150.0),
        BinAxis("m", 20, 0.0, 97.0)))
    assert(denseHist.queryExecution.executedPlan.toString
      .toLowerCase.contains("dense_hist_chunk"), "sanity: dense regime uses the chunk aggregate")
    val s2 = spark.newSession()
    s2.conf.set(Binning.DenseMaxBinsKey, (1L << 26).toString)
    val rnd = new scala.util.Random(7)
    val data = Seq.fill(2000)((rnd.nextDouble() * 100, rnd.nextDouble() * 100, rnd.nextDouble() * 100))
    val df = s2.createDataFrame(data).toDF("a", "b", "c")
    val axes = Seq(BinAxis("a", 300, 0.0, 100.0), BinAxis("b", 300, 0.0, 100.0),
      BinAxis("c", 300, 0.0, 100.0)) // 2.7e7 bins: <= denseMaxBins, not denseViable
    val hist = Binning.histogram(df, axes)
    assert(!hist.queryExecution.executedPlan.toString.toLowerCase.contains("dense_hist_chunk"),
      "plan must fall through to the sparse flat-key path")
    assert(hist.agg(sum("cnt")).head().getLong(0) == 2000L)
  }

  test("range drop is NOT pushed through an expensive transform chain") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    // chain: dfield bilinear (marked UserDefinedExpression) -> derived axis
    val grid = Array.tabulate(64)(i => (i / 8).toDouble) // 8x8
    val df = events
      .withColumn("xi", $"value" * (7.0 / 500.0))
      .withColumn("yi", $"user_id".cast("double") * (7.0 / 150.0))
      .withColumn("xc", org.apache.spark.sql.graft.Bilinear2D($"xi", $"yi", grid, 8, 8))
      .withColumn("energy", $"xc" * 2.0 + 1.0)
    val hist = Binning.histogram(df, Seq(BinAxis("energy", 10, 0.0, 20.0)))
    val opt = hist.queryExecution.optimizedPlan
    val inFilters = opt.collect { case f: LFilter =>
      "bilinear2d".r.findAllMatchIn(f.condition.toString.toLowerCase).length
    }.sum
    assert(inFilters == 0, "range predicate was pushed into a Filter re-deriving the chain")
    val total = "bilinear2d".r.findAllMatchIn(opt.toString.toLowerCase).length
    assert(total == 1, s"dfield lookup duplicated $total times in the plan")
    // and the null-key drop is still numpy-correct
    val got = hist.agg(sum("cnt")).as[Long].head()
    val expected = df.filter($"energy".between(0.0, 20.0)).count()
    assert(got == expected)
  }

  test("3-d histogram total equals in-range row count") {
    val axes = Seq(BinAxis("value", 8, 0.0, 500.0), BinAxis("user_id", 8, 0.0, 150.0),
      BinAxis("m", 8, 0.0, 97.0))
    val df = events.withColumn("m", ($"event_id" % 97).cast("double"))
    val total = Binning.histogram(df, axes).agg(sum("cnt")).as[Long].head()
    val expected = df.filter($"value".between(0, 500) && $"user_id".between(0, 150)).count()
    assert(total == expected)
  }

  // ---- dense binning kernel (map-side count fused into whole-stage codegen)

  /** Sessions sharing the suite's SparkContext: the default dense plan,
    * the same with whole-stage codegen off (the exec's doExecute twin),
    * and the sparse flat-key plan (dense regime disabled). */
  private lazy val codegenOff: SparkSession = {
    val s = spark.newSession(); s.conf.set("spark.sql.codegen.wholeStage", "false"); s
  }
  private lazy val sparseOnly: SparkSession = {
    val s = spark.newSession(); s.conf.set(Binning.DenseMaxBinsKey, "1"); s
  }

  private def hist2(s: SparkSession, data: Seq[(Double, Double)], parts: Int,
                    axes: Seq[BinAxis]): Set[(Long, Long, Long)] = {
    val df = s.createDataFrame(data).toDF("a", "b").repartition(parts)
    Binning.histogram(df, axes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  /** numpy-semantics count on the driver. */
  private def driverCount(data: Seq[(Double, Double)], axes: Seq[BinAxis]): Set[(Long, Long, Long)] = {
    def idx(v: Double, a: BinAxis): Option[Long] =
      if (v >= a.lo && v <= a.hi) Some(math.min(math.floor((v - a.lo) / a.step).toLong, a.nBins - 1L))
      else None
    data.flatMap { case (x, y) =>
      for (i <- idx(x, axes(0)); j <- idx(y, axes(1))) yield (i, j)
    }.groupBy(identity).map { case ((i, j), xs) => (i, j, xs.size.toLong) }.toSet
  }

  /** Every node of an executed plan, query stages included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  })

  /** The operators compiled into one whole-stage-codegen function. */
  private def fused(w: WholeStageCodegenExec): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(walk)
    }
    walk(w.child)
  }

  test("dense-chunk and sparse flat-key paths agree on random shapes") {
    // the dense kernel, with codegen on and off, against the sparse
    // flat-key path and a driver-side count
    val rnd = new scala.util.Random(41)
    for (round <- 0 until 4) {
      val n1 = 65 + rnd.nextInt(90); val n2 = 65 + rnd.nextInt(90) // product > 4096
      val axes = Seq(BinAxis("a", n1, 0.0, 100.0), BinAxis("b", n2, -5.0, 95.0))
      // values straddle both ranges; a hot spot puts counts > 127
      // (multi-byte varints) into the encoded chunks
      val data = Seq.fill(6000) {
        if (rnd.nextInt(4) == 0) (50.0 + rnd.nextDouble(), 40.0 + rnd.nextDouble())
        else (rnd.nextDouble() * 120.0 - 10.0, rnd.nextDouble() * 120.0 - 15.0)
      }
      val parts = 1 + round
      val want = driverCount(data, axes)
      assert(want.exists(_._3 > 127))
      assert(hist2(spark, data, parts, axes) == want, s"codegen, ${n1}x$n2")
      assert(hist2(codegenOff, data, parts, axes) == want, s"no codegen, ${n1}x$n2")
      assert(hist2(sparseOnly, data, parts, axes) == want, s"sparse, ${n1}x$n2")
    }
  }

  test("dense kernel edge cases: chunk offsets 0 and 2^bits-1, last partial chunk, empty and all-out-of-range input") {
    // 100 x 70 = 7000 bins: dense regime, and 7000 is no multiple of the
    // chunk width, so the last chunk is partial
    val axes = Seq(BinAxis("a", 100, 0.0, 100.0), BinAxis("b", 70, 0.0, 70.0))
    val total = 7000L
    val bits = Binning.chunkBits(total, spark.sparkContext.defaultParallelism, 128)
    val cs = 1L << bits
    assert(total % cs != 0, s"chunk width $cs divides $total")
    val keys = (0L until total by cs).flatMap(c => Seq(c, c + cs - 1)).filter(_ < total) :+ (total - 1)
    // bin centers: key k = a_bin * 70 + b_bin
    val rows = keys.flatMap(k => Seq.fill(1 + (k % 3).toInt)(((k / 70) + 0.5, (k % 70) + 0.5)))
    val want = driverCount(rows, axes)
    assert(want.map(t => t._1 * 70 + t._2) == keys.toSet)
    for (s <- Seq(spark, codegenOff); parts <- Seq(1, 3)) {
      assert(hist2(s, rows, parts, axes) == want, s"parts=$parts")
      assert(hist2(s, Seq((-1.0, 5.0), (5.0, 71.0), (101.0, 101.0)), parts, axes).isEmpty,
        "all out of range")
      assert(hist2(s, Seq.empty, parts, axes).isEmpty, "empty input")
    }
  }

  test("dense regime: map-side count sits inside whole-stage codegen, one reduce wave") {
    val axes = Seq(BinAxis("a", 100, 0.0, 100.0), BinAxis("b", 70, 0.0, 70.0))
    val rnd = new scala.util.Random(5)
    val df = Seq.fill(3000)((rnd.nextDouble() * 100.0, rnd.nextDouble() * 70.0)).toDF("a", "b")
      .repartition(3)
    val hist = Binning.histogram(df, axes)
    assert(hist.queryExecution.executedPlan.toString
      .toLowerCase.contains("dense_hist_chunk"), "reduce side merges with the chunk aggregate")
    assert(hist.agg(sum("cnt")).head().getLong(0) == 3000L)
    hist.collect()
    val all = nodes(hist.queryExecution.executedPlan)
    val fusedKernel = all.collect { case w: WholeStageCodegenExec => fused(w) }
      .filter(_.exists(_.isInstanceOf[DenseHistPartialExec]))
    assert(fusedKernel.size == 1, "DenseHistPartialExec is not compiled into a codegen stage")
    // the operators of each shuffle map stage, without its input stages
    def stage(p: SparkPlan): Seq[SparkPlan] =
      p +: p.children.filterNot(_.isInstanceOf[QueryStageExec]).flatMap(stage)
    val mapStage = all.collect { case q: ShuffleQueryStageExec => stage(q.plan) }
      .filter(_.exists(_.isInstanceOf[DenseHistPartialExec]))
    assert(mapStage.size == 1)
    assert(!mapStage.head.exists {
      case _: ObjectHashAggregateExec | _: HashAggregateExec | _: SortAggregateExec => true
      case _ => false
    }, "map side aggregates per row")
    val shuffles = mapStage.head.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1)
    assert(shuffles.head.numPartitions <= spark.sparkContext.defaultParallelism,
      s"${shuffles.head.numPartitions} reduce tasks")
    // codegen off: the same operator runs as its doExecute twin
    val off = Binning.histogram(codegenOff.createDataFrame(Seq((1.5, 2.5))).toDF("a", "b"), axes)
    assert(off.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L, 1L)))
    val offNodes = nodes(off.queryExecution.executedPlan)
    assert(offNodes.exists(_.isInstanceOf[DenseHistPartialExec]))
    assert(!offNodes.exists(_.isInstanceOf[WholeStageCodegenExec]))
  }

  test("dense kernel strategy registration is idempotent per session") {
    val s = spark.newSession()
    assert(!s.experimental.extraStrategies.contains(DenseHistStrategy))
    DenseHistStrategy.setup(s)
    DenseHistStrategy.setup(s)
    org.apache.spark.sql.graft.GraftExtensions.register(s)
    assert(s.experimental.extraStrategies.count(_ == DenseHistStrategy) == 1)
  }

  test("chunk codec round-trips sparse, dense and large counts") {
    val rnd = new scala.util.Random(3)
    for (fill <- Seq(0.0, 0.001, 0.3, 1.0)) {
      val a = Array.tabulate(4096)(_ => if (rnd.nextDouble() < fill) 1L + rnd.nextInt(300) else 0L)
      a(4095) = 1L << 40
      val back = new Array[Long](4096)
      DenseHistCodec.addTo(DenseHistCodec.encode(a), back)
      assert(back.sameElements(a), s"fill $fill")
    }
  }
}
