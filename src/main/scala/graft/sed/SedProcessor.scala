package graft.sed

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.calibrate.{CalibrationStore, FeatureDetection, MomentumCalibration, MomentumCorrection}
import graft.functions.SedFunctions._
import graft.operators.{BinAxis, Binning, ColumnOffset, DfOps}

/** Fluent single-event-dataframe processor — the user-facing workflow API
  * mirroring the reference's `SedProcessor` (src/sed/core/processor.py):
  * load → per-event corrections/calibrations → N-d histogram compute.
  *
  * Each step RETURNS A NEW PROCESSOR wrapping a lazily transformed
  * DataFrame — nothing executes until `compute()`/`dataframe` is acted on,
  * so the whole chain collapses into one Catalyst plan: a single
  * whole-stage-codegen'd projection over the scan, then one groupBy for
  * the final histogram. That is the Spark-native analogue of the
  * reference's chained Dask task graph (processor.py:1109
  * apply_energy_correction, 1471 append_energy_axis, 1684
  * align_dld_sectors, 964 apply_momentum_calibration, 1734
  * calibrate_delay_axis, 2008 add_jitter, 2261 compute, ...).
  */
case class SedProcessor(dataframe: DataFrame,
                        timed: Option[DataFrame] = None,
                        xCol: String = "x", yCol: String = "y",
                        tofCol: String = "tof",
                        attributes: Map[String, String] = Map.empty,
                        calibrations: CalibrationStore.Calibrations =
                          CalibrationStore.Calibrations(),
                        meta: MetaHandler = MetaHandler()) {

  private def next(df: DataFrame): SedProcessor = copy(dataframe = df)

  /** Attach run metadata (the MetaHandler analogue, processor.py:307
    * attributes / 315 add_attribute) — carried through the fluent chain
    * and exported alongside results. */
  def addAttribute(name: String, value: String): SedProcessor =
    copy(attributes = attributes + (name -> value))

  /** Add a (possibly nested) metadata entry to the processor's metadata
    * tree (core/metadata.py:95 MetaHandler.add — raise / overwrite /
    * merge / append duplicate policies). The tree is exported with NeXus
    * saves and inspectable via [[metadataTree]]. */
  def addMetadata(entry: Any, name: String,
                  duplicatePolicy: String = "raise"): SedProcessor =
    copy(meta = meta.add(entry, name, duplicatePolicy))

  /** The full metadata tree as exported: user entries, the flat run
    * attributes (under "attributes"), and every calibration applied
    * through the chain (under "process", with the CalibrationStore
    * section/field names). */
  def metadataTree: Map[String, Any] = {
    val attrBranch: Map[String, Any] =
      if (attributes.isEmpty) Map.empty
      else Map("attributes" -> (attributes: Map[String, Any]))
    val processBranch: Map[String, Any] =
      if (calibrations == CalibrationStore.Calibrations()) Map.empty
      else Map("process" -> CalibrationStore.tree(calibrations))
    meta.metadata ++ attrBranch ++ processBranch
  }

  /** Gather per-file metadata (file name, row count, per-column ranges —
    * loader/utils.py:266 semantics) into the processor attributes and add
    * the `file_id` column. EAGER: runs the one metadata aggregation job
    * (files × columns output — driver-safe at any corpus size). */
  def attachFileMetadata(statsCols: Seq[String] = Nil): SedProcessor = {
    val meta = graft.io.SedReader.fileMetadata(dataframe, statsCols).collect()
    val rendered = meta.map { r =>
      val id = r.getAs[Long]("file_id")
      val fields = r.schema.fieldNames.filter(_ != "file_id")
        .map(f => s""""$f":"${r.getAs[Any](f)}"""").mkString(",")
      s"file:$id" -> s"{$fields}"
    }
    copy(dataframe = graft.io.SedReader.withFileId(dataframe),
      attributes = attributes ++ rendered)
  }

  /** Bound filter on a column (processor.py:496 filter_column). */
  def filterColumn(col: String, lower: Double = Double.NegativeInfinity,
                   upper: Double = Double.PositiveInfinity): SedProcessor =
    next(DfOps.applyFilter(dataframe, col, lower, upper))

  /** Deterministic jitter on `cols` keyed by `idCol` (processor.py:2008
    * add_jitter; amplitude semantics of dfops.py:17). */
  def addJitter(cols: Seq[String], idCol: String, amp: Double = 0.5,
                jitterType: String = "uniform"): SedProcessor =
    next(DfOps.applyJitter(dataframe, cols, idCol, amp, jitterType, suffix = ""))

  /** TOF correction surface (processor.py:1109 apply_energy_correction). */
  def applyEnergyCorrection(correction: (Column, Column) => Column): SedProcessor =
    next(dataframe.withColumn(tofCol,
      col(tofCol) + correction(col(xCol), col(yCol))))

  /** Apply a SAVED/LOADED energy-correction parameter set (the
    * CalibrationStore persistence round-trip of processor.py:1072
    * save_energy_correction). */
  def applyEnergyCorrection(p: CalibrationStore.EnergyCorrectionParams): SedProcessor =
    applyEnergyCorrection((x, y) => p.column(x, y))
      .copy(calibrations = calibrations.copy(energyCorrection = Some(p)))

  /** Per-sector TOF delay alignment (processor.py:1684 align_dld_sectors). */
  def alignDldSectors(sectorCol: String, sectorDelays: Seq[Double]): SedProcessor =
    next(dataframe.withColumn(tofCol,
      sectorAlign(col(tofCol), col(sectorCol), sectorDelays)))
      .copy(calibrations = calibrations.copy(sectorDelays = Some(sectorDelays)))

  /** TOF → energy axis, flight-tube model (processor.py:1471
    * append_energy_axis with calibration method "tof2ev"). */
  def appendEnergyAxis(tofDistance: Double, timeOffset: Double, binwidth: Double,
                       binning: Int, energyScale: String = "kinetic",
                       energyOffset: Double = 0.0,
                       energyCol: String = "energy"): SedProcessor =
    next(dataframe.withColumn(energyCol,
      tof2ev(col(tofCol), tofDistance, timeOffset, binwidth, binning, energyScale, energyOffset)))

  /** TOF → energy axis, polynomial calibration (energy.py:2420). */
  def appendEnergyAxisPoly(polyA: Seq[Double], energyOffset: Double,
                           energyCol: String = "energy"): SedProcessor =
    next(dataframe.withColumn(energyCol, tof2evpoly(col(tofCol), polyA, energyOffset)))

  /** Apply a FITTED polynomial energy calibration (the
    * `EnergyCalibration.polyFit` / bias-series output; recorded for
    * [[saveWorkflowParams]]). */
  def appendEnergyAxisPoly(cal: graft.calibrate.EnergyCalibration.PolyCalibration): SedProcessor =
    appendEnergyAxisPoly(cal.coeffs.toSeq, cal.e0)
      .copy(calibrations = calibrations.copy(energy = Some(cal)))

  /** Energy offsets incl. weighted columns and preserve-mean
    * (processor.py:1531 add_energy_offset). */
  def addEnergyOffset(offsets: Seq[ColumnOffset],
                      energyCol: String = "energy"): SedProcessor =
    next(DfOps.offsetByOtherColumns(dataframe, energyCol, offsets))

  /** TOF → ns axis (processor.py:1636 append_tof_ns_axis). */
  def appendTofNsAxis(binwidth: Double, binning: Int,
                      tofNsCol: String = "tof_ns"): SedProcessor =
    next(dataframe.withColumn(tofNsCol, tof2ns(col(tofCol), binwidth, binning)))

  /** Affine pose correction of detector coordinates (processor.py:727
    * pose_adjustment / momentum.py:910 coordinate_transform). */
  def poseAdjustment(scale: Double, angleRad: Double, centerX: Double, centerY: Double,
                     xTrans: Double, yTrans: Double): SedProcessor = {
    val (nx, ny) = poseTransform(col(xCol), col(yCol), scale, angleRad,
      centerX, centerY, xTrans, yTrans)
    next(dataframe.withColumn("__nx", nx).withColumn("__ny", ny)
      .withColumn(xCol, col("__nx")).withColumn(yCol, col("__ny"))
      .drop("__nx", "__ny"))
  }

  /** Inverse-deformation-field momentum correction (processor.py:817
    * apply_momentum_correction). */
  def applyMomentumCorrection(dfield: MomentumCorrection.Dfield,
                              detectorRanges: ((Double, Double), (Double, Double)),
                              newXCol: String = "xc", newYCol: String = "yc"): SedProcessor =
    next(MomentumCorrection.applyDfield(dataframe, dfield, xCol, yCol,
      newXCol, newYCol, detectorRanges))
      .copy(calibrations = calibrations.copy(dfield = Some(dfield)))

  /** Apply a FORWARD deformation field (the orientation the reference
    * saves and composes pose adjustments into — momentum.py:1291/1793
    * regenerate `inverse_dfield` from rdeform/cdeform before every
    * apply): numerically invert it onto an outRows×outCols raster
    * ([[MomentumCorrection.generateInverseDfield]]) and bilinear-look it
    * up per event, with event coordinates (forward-grid units, like
    * [[applyMomentumCorrection]]'s) scaled to raster indices. Lets a
    * user bring a reference-produced momentum_correction config
    * unchanged; chains that fit with [[generateSplinewarp]] get the
    * inverse directly and use [[applyMomentumCorrection]]. The COMPACT
    * forward field is what the workflow store records (the raster is a
    * derived artifact, regenerated on reapply — reference parity). */
  def applyForwardMomentumCorrection(forward: MomentumCorrection.Dfield,
                                     detectorRanges: ((Double, Double), (Double, Double)),
                                     outRows: Int = 2048, outCols: Int = 2048,
                                     newXCol: String = "xc", newYCol: String = "yc"): SedProcessor = {
    import org.apache.spark.sql.graft.Bilinear2D
    val inv = MomentumCorrection.generateInverseDfield(forward, outRows, outCols)
    val sr = outRows.toDouble / forward.rows // raster pixels per grid unit
    val sc = outCols.toDouble / forward.cols
    val rStep = (detectorRanges._1._2 - detectorRanges._1._1) / forward.rows
    val cStep = (detectorRanges._2._2 - detectorRanges._2._1) / forward.cols
    next(dataframe
      .withColumn(newXCol,
        Bilinear2D(col(xCol) * sr, col(yCol) * sc, inv.rdeform, outRows, outCols) * rStep)
      .withColumn(newYCol,
        Bilinear2D(col(xCol) * sr, col(yCol) * sc, inv.cdeform, outRows, outCols) * cStep))
      .copy(calibrations = calibrations.copy(dfield = Some(forward)))
  }

  /** Detector → k-space calibration (processor.py:964
    * apply_momentum_calibration / momentum.py:1890 append_k_axis). */
  def appendKAxis(kxStart: Double, kxCenter: Double, kxScale: Double, kxStep: Double,
                  kyStart: Double, kyCenter: Double, kyScale: Double, kyStep: Double,
                  kxCol: String = "kx", kyCol: String = "ky"): SedProcessor =
    next(dataframe
      .withColumn(kxCol, detectorToK(col(xCol), kxStart, kxCenter, kxScale, kxStep))
      .withColumn(kyCol, detectorToK(col(yCol), kyStart, kyCenter, kyScale, kyStep)))

  /** Apply a FITTED momentum calibration (the `calibrateMomentumAxes`
    * output) — parameter mapping as in momentum.py:1970
    * append_k_axis → detector_coordinates_2_k_coordinates. */
  def appendKAxis(cal: MomentumCalibration.KCalibration): SedProcessor =
    appendKAxis(cal.rStart, cal.xCenter, cal.kxScale, cal.rStep,
      cal.cStart, cal.yCenter, cal.kyScale, cal.cStep)
      .copy(calibrations = calibrations.copy(momentum = Some(cal)))

  /** Momentum axis calibration fit from two symmetry-point pixel positions
    * in a binned momentum map (processor.py:877 calibrate_momentum_axes /
    * momentum.py:1612 calibrate). Driver-side closed form — pass the
    * result to the `appendKAxis(cal)` overload. Supply `kDistance` for
    * equiscale mode or `kCoordA` (+ optional `kCoordB`) for independent
    * per-axis scales. */
  def calibrateMomentumAxes(nRows: Int, nCols: Int,
                            pointA: (Double, Double), pointB: (Double, Double),
                            binRanges: ((Double, Double), (Double, Double)),
                            kDistance: Option[Double] = None,
                            kCoordA: Option[(Double, Double)] = None,
                            kCoordB: (Double, Double) = (0.0, 0.0)): MomentumCalibration.KCalibration =
    (kDistance, kCoordA) match {
      case (Some(kd), None) =>
        MomentumCalibration.calibrate(nRows, nCols, pointA, pointB, kd, binRanges)
      case (None, Some(ka)) =>
        MomentumCalibration.calibrateTwoPoint(nRows, nCols, pointA, pointB, ka, binRanges, kCoordB)
      case _ => throw new IllegalArgumentException(
        "provide exactly one of kDistance (equiscale) or kCoordA (two-point)")
    }

  /** ADC → delay axis (processor.py:1734 calibrate_delay_axis). */
  def calibrateDelayAxis(adcCol: String, adcRange: (Double, Double),
                         delayRange: (Double, Double),
                         delayCol: String = "delay"): SedProcessor =
    next(dataframe.withColumn(delayCol, adcToDelay(col(adcCol), adcRange, delayRange)))
      .copy(calibrations = calibrations.copy(
        delay = Some(CalibrationStore.DelayCalibration(adcRange, delayRange))))

  /** Delay offsets incl. flip (processor.py:1862 add_delay_offset). */
  def addDelayOffset(constant: Double = 0.0, flip: Boolean = false,
                     delayCol: String = "delay"): SedProcessor = {
    val flipped = if (flip) col(delayCol) * lit(-1.0) else col(delayCol)
    next(dataframe.withColumn(delayCol, flipped + lit(constant)))
  }

  /** Interpolate external (ts, value) sensor data onto events
    * (processor.py:2117 add_time_stamped_data). */
  def addTimeStampedData(tsSecondsCol: Column, destCol: String,
                         timeStamps: Seq[Double], data: Seq[Double]): SedProcessor =
    next(DfOps.addTimeStampedData(dataframe, tsSecondsCol, destCol, timeStamps, data))

  /** N-d histogram — the terminal compute (processor.py:2261 compute). */
  def compute(axes: Seq[BinAxis], withCenters: Boolean = true): DataFrame = {
    val h = Binning.histogram(dataframe, axes)
    if (withCenters) Binning.withCenters(h, axes) else h
  }

  private def requireTimed: DataFrame = timed.getOrElse(throw new IllegalStateException(
    "no timed dataframe attached — pass `timed = Some(df)`; normalizing " +
      "events by themselves would be silently meaningless (the reference " +
      "raises here too, processor.py:2317)"))

  /** Per-bin normalization histogram from the timed dataframe
    * (processor.py:2317 get_normalization_histogram). */
  def normalizationHistogram(axis: BinAxis): DataFrame =
    Binning.normalizationHistogram(requireTimed, axis)

  /** compute() normalized by the timed dataframe (processor.py compute
    * with normalize_to_acquisition_time). */
  def computeNormalized(axes: Seq[BinAxis], normAxis: BinAxis): DataFrame =
    Binning.normalizedHistogram(dataframe, requireTimed, axes, normAxis)

  /** Automatic symmetry-feature detection (processor.py:583
    * define_features / momentum.py:419 feature_extract, auto mode): bin
    * the 2-D momentum image DISTRIBUTEDLY (the only pass over event
    * data), then detect + order the rotsym (+1 center) strongest local
    * maxima on the plot-sized dense grid driver-side. Returned positions
    * are in the axes' ORIGINAL column units (bin-center convention), so
    * `features.outer`/`idealPolygon` feed [[generateSplinewarp]]
    * directly — the full auto momentum-correction loop:
    * defineFeatures → splineWarp → applyMomentumCorrection. */
  def defineFeatures(xAxis: BinAxis, yAxis: BinAxis, rotsym: Int = 6,
                     includeCenter: Boolean = true, radius: Int = 4,
                     ampFraction: Double = 0.1,
                     direction: String = "ccw"): FeatureDetection.Features = {
    val hist = compute(Seq(xAxis, yAxis), withCenters = false)
    val flat = graft.io.SedWriter.denseCube(hist, Seq(xAxis, yAxis))
    val img = Array.tabulate(xAxis.nBins, yAxis.nBins)((r, c) => flat(r * yAxis.nBins + c))
    val peaks = FeatureDetection.peakDetect2d(img, radius, ampFraction)
    val want = if (includeCenter) rotsym + 1 else rotsym
    require(peaks.size >= want,
      s"found only ${peaks.size} peaks, need $want — lower ampFraction/radius")
    val pts = peaks.take(want).map(p =>
      (xAxis.lo + (p.row + 0.5) * xAxis.step, yAxis.lo + (p.col + 0.5) * yAxis.step))
    FeatureDetection.addFeatures(pts, rotsym, direction)
  }

  /** Inverse-deformation-field estimation from landmark pairs
    * (processor.py:637 generate_splinewarp / momentum.py:627): driver-side
    * thin-plate-spline solve; feed the result to
    * [[applyMomentumCorrection]] and persist it via `CalibrationStore`. */
  def generateSplinewarp(srcLandmarks: Seq[(Double, Double)],
                         dstLandmarks: Seq[(Double, Double)],
                         rows: Int, cols: Int): MomentumCorrection.Dfield =
    MomentumCorrection.splineWarp(
      srcLandmarks.map(_._1).toArray, srcLandmarks.map(_._2).toArray,
      dstLandmarks.map(_._1).toArray, dstLandmarks.map(_._2).toArray,
      rows, cols)

  /** Persist every calibration APPLIED through this processor chain in
    * one call (processor.py:1946 save_workflow_params): the typed apply
    * methods (applyEnergyCorrection(params), appendEnergyAxisPoly(cal),
    * appendKAxis(cal), applyMomentumCorrection, alignDldSectors,
    * calibrateDelayAxis) record their parameters as they go, so the
    * fit-once/apply-forever loop is one save + one
    * `CalibrationStore.load` next run. */
  def saveWorkflowParams(path: String): Unit = {
    require(calibrations != CalibrationStore.Calibrations(),
      "no calibrations applied through this chain — nothing to save " +
        "(the reference raises here too, processor.py:1946)")
    CalibrationStore.save(calibrations, path)
  }

  /** Compute + export in one call, dispatched on the file extension
    * (processor.py:2481 save: tiff / NeXus-HDF5 / everything else as
    * parquet data + axis metadata). `compress` applies to NeXus cubes. */
  /** NXmpes-conformant NeXus export: compute the cube and write it with
    * the metadata tree mapped onto NXmpes instrument/sample/calibration
    * template paths by `configJson` (defaults to the bundled config) —
    * the io/nexus.py:14 to_nexus + NXmpes_config.json path of the
    * reference, for publishing to NeXus-consuming archives. Returns the
    * mapping report (resolved + missing-required template paths). */
  def saveNxmpes(path: String, axes: Seq[BinAxis],
                 configJson: String = graft.io.Nxmpes.defaultConfig,
                 compress: Boolean = false,
                 strict: Boolean = false): graft.io.Nxmpes.Report = {
    val hist = compute(axes, withCenters = false)
    graft.io.SedWriter.nexusNxmpes(hist, axes, path, configJson,
      metadataTree, compress = compress, strict = strict)
  }

  def save(path: String, axes: Seq[BinAxis], compress: Boolean = false): Unit = {
    val hist = compute(axes, withCenters = false)
    val lower = path.toLowerCase
    if (lower.endsWith(".tiff") || lower.endsWith(".tif"))
      graft.io.SedWriter.tiff(hist, axes, path)
    else if (lower.endsWith(".nxs") || lower.endsWith(".nexus") || lower.endsWith(".h5"))
      graft.io.SedWriter.nexus(hist, axes, path, compress = compress,
        metadata = metadataTree)
    else graft.io.SedWriter.binned(hist, axes, path)
  }
}

object SedProcessor {
  /** Load a folder of parquet files as the event stream (the generic
    * loader path, loader/generic/loader.py:23). The schema comes from one
    * footer read on the driver, so loading runs no Spark job
    * ([[graft.io.SedReader.parquet]]). */
  def fromParquet(spark: org.apache.spark.sql.SparkSession, path: String,
                  xCol: String = "x", yCol: String = "y",
                  tofCol: String = "tof"): SedProcessor =
    SedProcessor(graft.io.SedReader.parquet(spark, path), None, xCol, yCol, tofCol)
}
