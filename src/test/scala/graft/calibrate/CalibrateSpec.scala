package graft.calibrate

import graft.SparkSpecBase
import graft.sed.SedProcessor
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bilinear2D

class CalibrateSpec extends SparkSpecBase {
  import spark.implicits._

  test("LinAlg.polyfit recovers exact polynomial coefficients") {
    val xs = Array(1.0, 2.0, 3.0, 4.0, 5.0)
    val ys = xs.map(x => 2.0 * x * x - 3.0 * x + 0.5)
    val c = LinAlg.polyfit(xs, ys, 2)
    assert(math.abs(c(0) - 2.0) < 1e-9 && math.abs(c(1) + 3.0) < 1e-9 && math.abs(c(2) - 0.5) < 1e-9)
  }

  test("EnergyCalibration.polyFit recovers a synthetic bias series") {
    // ground truth: E(t) = a1 t + a2 t^2 (order 2); biases shift the peak
    val a = Array(3e-9, -2e-4) // highest order first
    def poly(t: Double): Double = a(0) * t * t + a(1) * t
    val pos = Array(41000.0, 42000.0, 43000.0, 44000.0, 45000.0)
    // vals chosen so vals(0)-vals(i) = poly(pos(0)) - poly(pos(i))
    val vals = pos.map(p => poly(p) - poly(pos(0)))
    val fit = EnergyCalibration.polyFit(pos, vals, refEnergy = 10.0, order = 2)
    assert(math.abs(fit.coeffs(0) - a(0)) < 1e-12)
    assert(math.abs(fit.coeffs(1) - a(1)) < 1e-7)
    // anchor: poly(pos0) - refEnergy + E0 + vals0 = 0
    assert(math.abs(poly(pos(0)) - 10.0 + fit.e0 + vals(0)) < 1e-6)
  }

  test("EnergyCalibration.modelFit recovers flight-tube parameters") {
    val (dTrue, t0True, e0True) = (0.9, 1e-8, -2.0)
    val binwidth = 4.125e-12
    def model(t: Double): Double = {
      val r = dTrue / (t * binwidth - t0True)
      2.84281e-12 * r * r + e0True
    }
    val pos = Array(40000.0, 42000.0, 44000.0, 46000.0, 48000.0)
    val ref = model(pos(0))
    val vals = pos.map(p => model(p) - model(pos(0))) // bias differences
    val (d, t0, e0) = EnergyCalibration.modelFit(pos, vals, binwidth, 1, ref,
      d0 = 0.8, t00 = 0.8e-8)
    assert(math.abs(d - dTrue) < 1e-3, s"d=$d")
    assert(math.abs(t0 - t0True) < 1e-10, s"t0=$t0")
    assert(math.abs(e0 - e0True) < 1e-2, s"e0=$e0")
  }

  test("findPeaks locates local maxima with prominence filtering") {
    val centers = Array.tabulate(11)(_.toDouble)
    val counts = Array(0.0, 1.0, 5.0, 1.0, 0.0, 0.5, 9.0, 0.5, 0.0, 2.0, 0.0)
    val peaks = EnergyCalibration.findPeaks(centers, counts, window = 2)
    assert(peaks.map(_._1).toSeq == Seq(2.0, 6.0, 9.0))
    val strong = EnergyCalibration.findPeaks(centers, counts, window = 2, minProminence = 3.0)
    assert(strong.map(_._1).toSeq == Seq(2.0, 6.0))
  }

  test("calibrateFromBiasSeries recovers peak drift from a synthetic series") {
    // three bias steps, each a sharp synthetic peak at a drifting TOF
    val rows = for {
      (bias, center) <- Seq((0.0, 100.0), (1.0, 120.0), (2.0, 140.0))
      i <- 0 until 500
      v = center + (i % 11) - 5 // dense cluster around the drifting center
    } yield (bias, v)
    val df = rows.toDF("bias", "tof")
    val axis = graft.operators.BinAxis("tof", 100, 0.0, 200.0)
    val cal = EnergyCalibration.calibrateFromBiasSeries(
      df, "tof", "bias", axis, (50.0, 190.0), refEnergy = 5.0, order = 2)
    // fitted poly must reproduce the bias differences at the peak positions
    def ev(t: Double) = cal.coeffs(0) * t * t + cal.coeffs(1) * t
    assert(math.abs((ev(101.0) - ev(121.0)) - (0.0 - 1.0)) < 0.2)
    assert(math.abs((ev(101.0) - ev(141.0)) - (0.0 - 2.0)) < 0.2)
  }

  test("momentum calibrate equiscale: reference geometry (test_momentum.py:366)") {
    // the reference test's exact inputs: 512x512 map binned over
    // (-256,1792) in both axes, points a=(308,345) b=(256,256),
    // k_distance = 4/3*pi/3.28
    val kd = 4.0 / 3.0 * math.Pi / 3.28
    val cal = MomentumCalibration.calibrate(512, 512,
      pointA = (308.0, 345.0), pointB = (256.0, 256.0), kDistance = kd,
      binRanges = ((-256.0, 1792.0), (-256.0, 1792.0)))
    val ratio = kd / math.hypot(308.0 - 256.0, 345.0 - 256.0)
    assert(cal.kxScale == ratio && cal.kyScale == ratio)
    assert(cal.xCenter == 256.0 && cal.yCenter == 256.0)
    assert(cal.rStart == -256.0 && cal.rStep == 4.0 && cal.cStep == 4.0)
    // per-pixel axes: zero at point b, ratio-spaced (momentum.py:1712)
    assert(cal.kxAxis(256) == 0.0 && math.abs(cal.kxAxis(257) - ratio) < 1e-15)
    assert(cal.kxAxis.length == 512 && cal.kyAxis.length == 512)
    // applying to events: detector coords of pixel b map to k = (0,0),
    // pixel a lands at |k| = k_distance
    val detBx = cal.rStart + cal.rStep * 256.0
    val detBy = cal.cStart + cal.cStep * 256.0
    val detAx = cal.rStart + cal.rStep * 308.0
    val detAy = cal.cStart + cal.cStep * 345.0
    val df = Seq((detBx, detBy), (detAx, detAy)).toDF("x", "y")
    val out = SedProcessor(df).appendKAxis(cal)
      .dataframe.select("kx", "ky").as[(Double, Double)].collect()
    assert(math.abs(out(0)._1) < 1e-12 && math.abs(out(0)._2) < 1e-12)
    assert(math.abs(math.hypot(out(1)._1, out(1)._2) - kd) < 1e-12)
  }

  test("momentum calibrate two-point: independent per-axis scales (test_momentum.py:403)") {
    val k = 4.0 / 3.0 * math.Pi / 3.28
    val cal = MomentumCalibration.calibrateTwoPoint(512, 512,
      pointA = (360.0, 300.0), pointB = (256.0, 360.0),
      kCoordA = (k, -0.5), binRanges = ((-256.0, 1792.0), (-256.0, 1792.0)))
    assert(math.abs(cal.kxScale - k / 104.0) < 1e-15)
    assert(math.abs(cal.kyScale - (-0.5) / (300.0 - 360.0)) < 1e-15)
    // detector coords of each symmetry point map to its k-coordinate
    def det(p: (Double, Double)) =
      (cal.rStart + cal.rStep * p._1, cal.cStart + cal.cStep * p._2)
    val (bx, by) = det((256.0, 360.0)); val (ax, ay) = det((360.0, 300.0))
    val out = SedProcessor(Seq((bx, by), (ax, ay)).toDF("x", "y")).appendKAxis(cal)
      .dataframe.select("kx", "ky").as[(Double, Double)].collect()
    assert(math.abs(out(0)._1) < 1e-12 && math.abs(out(0)._2) < 1e-12)
    assert(math.abs(out(1)._1 - k) < 1e-12 && math.abs(out(1)._2 + 0.5) < 1e-12)
    // non-origin k_coord_b shifts the center accordingly
    val cal2 = MomentumCalibration.calibrateTwoPoint(512, 512,
      pointA = (360.0, 300.0), pointB = (256.0, 360.0),
      kCoordA = (k, -0.5), binRanges = ((-256.0, 1792.0), (-256.0, 1792.0)),
      kCoordB = (0.1, 0.2))
    assert(math.abs(cal2.xCenter - (256.0 - 0.1 / cal2.kxScale)) < 1e-12)
    assert(math.abs(cal2.yCenter - (360.0 - 0.2 / cal2.kyScale)) < 1e-12)
  }

  test("energy correction fitParams recovers exact surface parameters") {
    // synthetic bend: lorentzian with known amplitude/gamma, sampled on a grid
    val (ampT, gammaT, cx, cy) = (-0.3, 700.0, 250.0, 75.0)
    val pts = for (xi <- 0 to 10; yi <- 0 to 10)
      yield (50.0 + 40.0 * xi, 10.0 + 13.0 * yi)
    val shifts = pts.map { case (x, y) =>
      EnergyCorrectionEstimation.surfaceValue("lorentzian", cx, cy, ampT,
        Map("gamma" -> gammaT), x, y)
    }
    val fit = EnergyCorrectionEstimation.fitParams(
      pts.map(_._1).toArray, pts.map(_._2).toArray, shifts.toArray,
      "lorentzian", cx, cy, init = Map("gamma" -> 400.0), initAmplitude = -1.0)
    assert(math.abs(fit.amplitude - ampT) < 1e-6, s"amplitude ${fit.amplitude}")
    assert(math.abs(fit.params("gamma") - gammaT) < 1e-3, s"gamma ${fit.params("gamma")}")
    // gaussian too
    val gShifts = pts.map { case (x, y) =>
      EnergyCorrectionEstimation.surfaceValue("gaussian", cx, cy, -0.2,
        Map("sigma" -> 300.0), x, y)
    }
    val gFit = EnergyCorrectionEstimation.fitParams(
      pts.map(_._1).toArray, pts.map(_._2).toArray, gShifts.toArray,
      "gaussian", cx, cy, init = Map("sigma" -> 200.0), initAmplitude = -1.0)
    assert(math.abs(gFit.amplitude + 0.2) < 1e-6 && math.abs(gFit.params("sigma") - 300.0) < 1e-3)
  }

  test("estimateFromData recovers surface parameters from binned events") {
    import graft.operators.BinAxis
    // gamma comparable to the sampled radius range: amplitude and gamma are
    // separately identifiable (at r << gamma only a/g^3 is constrained)
    val (ampT, gammaT, cx, cy) = (-0.3, 300.0, 250.0, 75.0)
    val rows = for {
      xi <- 0 until 16; yi <- 0 until 16; _ <- 1 to 20
      // cell centers of the 16-bin (0,500) and (0,150) axes
      x = 15.625 + 31.25 * xi; y = 4.6875 + 9.375 * yi
    } yield (x, y,
      80000.0 + EnergyCorrectionEstimation.surfaceValue("lorentzian", cx, cy, ampT,
        Map("gamma" -> gammaT), x, y))
    val df = rows.toDF("x", "y", "tof")
    val fit = EnergyCorrectionEstimation.estimateFromData(df,
      BinAxis("x", 16, 0.0, 500.0), BinAxis("y", 16, 0.0, 150.0),
      BinAxis("tof", 4000, 79980.0, 80020.0),
      "lorentzian", cx, cy, init = Map("gamma" -> 400.0), initAmplitude = -1.0)
    assert(math.abs(fit.amplitude - ampT) / math.abs(ampT) < 0.05, s"amplitude ${fit.amplitude}")
    assert(math.abs(fit.params("gamma") - gammaT) / gammaT < 0.05, s"gamma ${fit.params("gamma")}")
  }

  test("TPS interpolates its landmarks exactly") {
    val px = Array(0.0, 10.0, 0.0, 10.0, 5.0)
    val py = Array(0.0, 0.0, 10.0, 10.0, 5.0)
    val v = Array(1.0, 2.0, 3.0, 4.0, 2.5)
    val tps = new MomentumCorrection.Tps(px, py, v)
    px.indices.foreach(i => assert(math.abs(tps.eval(px(i), py(i)) - v(i)) < 1e-8))
  }

  test("Bilinear2D matches a driver-side bilinear interpolation") {
    val rows = 8; val cols = 8
    val grid = Array.tabulate(rows * cols)(i => (i / cols) * 0.5 + (i % cols) * 1.25)
    def ref(x: Double, y: Double): Double = {
      val x0 = math.max(math.min(x.toInt, rows - 2), 0)
      val y0 = math.max(math.min(y.toInt, cols - 2), 0)
      val fx = x - x0; val fy = y - y0
      grid(x0 * cols + y0) * (1 - fx) * (1 - fy) + grid((x0 + 1) * cols + y0) * fx * (1 - fy) +
        grid(x0 * cols + y0 + 1) * (1 - fx) * fy + grid((x0 + 1) * cols + y0 + 1) * fx * fy
    }
    val pts = Seq((0.0, 0.0), (3.5, 2.25), (6.999, 6.999), (7.0, 7.0))
    val got = pts.toDF("x", "y")
      .select(Bilinear2D($"x", $"y", grid, rows, cols).as("v")).as[Double].collect()
    pts.zip(got).foreach { case ((x, y), g) => assert(math.abs(g - ref(x, y)) < 1e-12) }
  }

  test("Bilinear2D in a codegen stage reads its grid from one broadcast per grid array") {
    val rows = 8; val cols = 8
    val grid = Array.tabulate(rows * cols)(i => math.sin(i * 0.37) * 10.0)
    val bc = Bilinear2D.broadcastGrid(grid)
    assert(bc.isDefined && bc.get.value.eq(grid))
    assert(Bilinear2D.broadcastGrid(grid).get eq bc.get, "one broadcast per grid array")
    assert(!(Bilinear2D.broadcastGrid(grid.clone()).get eq bc.get))
    def values(s: org.apache.spark.sql.SparkSession): Seq[Double] =
      s.range(0, 400, 1, 4)
        .select(((col("id") % 9) * 0.87).as("x"), ((col("id") / 50) * 0.93).as("y"))
        .select(Bilinear2D(col("x"), col("y"), grid, rows, cols).as("v"))
        .collect().map(_.getDouble(0)).toSeq
    val interpreted = (0 until 400).map { i =>
      Bilinear2D(org.apache.spark.sql.catalyst.expressions.Literal((i % 9) * 0.87),
        org.apache.spark.sql.catalyst.expressions.Literal((i / 50.0) * 0.93), grid, rows, cols).eval()
        .asInstanceOf[Double]
    }
    assert(values(spark) == interpreted)
    val noCodegen = spark.newSession()
    noCodegen.conf.set("spark.sql.codegen.wholeStage", "false")
    assert(values(noCodegen) == interpreted)
  }

  test("applyDfield: identity field reproduces scaled coordinates") {
    val rows = 16; val cols = 16
    val rd = Array.tabulate(rows * cols)(i => (i / cols).toDouble)
    val cd = Array.tabulate(rows * cols)(i => (i % cols).toDouble)
    val dfield = MomentumCorrection.Dfield(rd, cd, rows, cols)
    val df = Seq((2.0, 3.0), (7.5, 8.25)).toDF("x", "y")
    val out = MomentumCorrection.applyDfield(df, dfield, "x", "y", "xc", "yc",
      ((0.0, 16.0), (0.0, 32.0)))
      .select("xc", "yc").as[(Double, Double)].collect()
    // identity lookup * step (1.0 for x-range 16/16, 2.0 for y-range 32/16)
    assert(out.toSeq == Seq((2.0, 6.0), (7.5, 16.5)))
  }

  test("splineWarp near-identity landmarks give near-identity field") {
    val t = for (i <- Seq(0.0, 8.0, 15.0); j <- Seq(0.0, 8.0, 15.0)) yield (i, j)
    val d = MomentumCorrection.splineWarp(
      t.map(_._1).toArray, t.map(_._2).toArray,
      t.map(_._1).toArray, t.map(_._2).toArray, 16, 16)
    for (i <- 0 until 16; j <- 0 until 16) {
      assert(math.abs(d.rdeform(i * 16 + j) - i) < 1e-6)
      assert(math.abs(d.cdeform(i * 16 + j) - j) < 1e-6)
    }
  }

  test("generateInverseDfield inverts an affine warp (inverse ∘ forward ≈ id)") {
    // forward field: an affine warp F(i,j) = (a·i + b·j + e, c·i + d·j + f).
    // The inverse field sampled at F's image must return the original grid
    // coordinates — piecewise-linear interpolation is EXACT for affine
    // maps, so tolerance is numerical only.
    val rows = 32; val cols = 32
    val (a, b, c, d, e, f) = (0.9, 0.08, -0.05, 1.1, 1.7, 0.9)
    val fwd = MomentumCorrection.Dfield(
      Array.tabulate(rows * cols)(k => a * (k / cols) + b * (k % cols) + e),
      Array.tabulate(rows * cols)(k => c * (k / cols) + d * (k % cols) + f),
      rows, cols)
    val inv = MomentumCorrection.generateInverseDfield(fwd, 128, 128)
    val rStep = rows.toDouble / 128; val cStep = cols.toDouble / 128
    var checked = 0
    for (i <- 2 until rows - 2; j <- 2 until cols - 2) {
      // source coordinate of grid point (i,j) under F, as an output pixel
      val x = a * i + b * j + e
      val y = c * i + d * j + f
      val p = math.round(x / rStep).toInt; val q = math.round(y / cStep).toInt
      if (p >= 0 && p < 128 && q >= 0 && q < 128) {
        val gotR = inv.rdeform(p * 128 + q)
        val gotC = inv.cdeform(p * 128 + q)
        if (!gotR.isNaN) {
          // pixel center is within half a step of (x,y); the affine
          // inverse moves by <= ||A^-1|| per unit, bound generously
          assert(math.abs(gotR - i) < 0.7, s"($i,$j): inverse row $gotR")
          assert(math.abs(gotC - j) < 0.7, s"($i,$j): inverse col $gotC")
          checked += 1
        }
      }
    }
    assert(checked > 500, s"too few covered samples: $checked")
    // pixels outside the warped hull stay NaN (griddata semantics)
    assert(inv.rdeform(0).isNaN || inv.rdeform.count(_.isNaN) > 0)
  }

  test("applyForwardMomentumCorrection ≈ applying the analytic inverse field") {
    import spark.implicits._
    // forward affine warp F; its analytic inverse G = F^{-1}. Applying the
    // numerically inverted forward field must match applying G directly.
    val rows = 32; val cols = 32
    val (a, b, c, d) = (0.95, 0.05, -0.04, 1.05)
    val det = a * d - b * c
    val fwd = graft.calibrate.MomentumCorrection.Dfield(
      Array.tabulate(rows * cols)(k => a * (k / cols) + b * (k % cols)),
      Array.tabulate(rows * cols)(k => c * (k / cols) + d * (k % cols)),
      rows, cols)
    val analyticInv = graft.calibrate.MomentumCorrection.Dfield(
      Array.tabulate(rows * cols)(k => (d * (k / cols) - b * (k % cols)) / det),
      Array.tabulate(rows * cols)(k => (-c * (k / cols) + a * (k % cols)) / det),
      rows, cols)
    val events = Seq((10.0, 12.0), (15.5, 8.25), (20.0, 20.0), (6.0, 25.0))
      .toDF("x", "y")
    val ranges = ((0.0, 32.0), (0.0, 32.0))
    def proc = graft.sed.SedProcessor(events, None, "x", "y", "t")
    val got = proc.applyForwardMomentumCorrection(fwd, ranges, 256, 256)
      .dataframe.select("xc", "yc").as[(Double, Double)].collect().toSeq
    val expected = proc.applyMomentumCorrection(analyticInv, ranges)
      .dataframe.select("xc", "yc").as[(Double, Double)].collect().toSeq
    got.zip(expected).foreach { case ((gx, gy), (ex, ey)) =>
      // numeric inversion samples the inverse on a raster; bilinear lookup
      // of an affine inverse is exact up to raster resolution
      assert(math.abs(gx - ex) < 0.05, s"x: $gx vs $ex")
      assert(math.abs(gy - ey) < 0.05, s"y: $gy vs $ey")
    }
  }

  test("generateInverseDfield skips NaN cells and leaves holes uncovered") {
    val rows = 8; val cols = 8
    val rd = Array.tabulate(rows * cols)(k => (k / cols).toDouble)
    val cd = Array.tabulate(rows * cols)(k => (k % cols).toDouble)
    rd(3 * cols + 3) = Double.NaN // one bad grid point
    val inv = MomentumCorrection.generateInverseDfield(
      MomentumCorrection.Dfield(rd, cd, rows, cols), 64, 64)
    // the four cells sharing the NaN corner leave their pixels NaN
    val holeR = inv.rdeform(3 * 8 * 64 + 3 * 8) // pixel at (3,3) exactly
    assert(holeR.isNaN)
    // identity elsewhere: pixel (48, 48) = coordinate (6, 6)
    assert(math.abs(inv.rdeform(48 * 64 + 48) - 6.0) < 1e-9)
    assert(math.abs(inv.cdeform(48 * 64 + 48) - 6.0) < 1e-9)
  }
}
