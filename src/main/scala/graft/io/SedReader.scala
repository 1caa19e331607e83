package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Ingestion layer — the Spark-native analogue of sed's loader registry
  * (reference: src/sed/loader/generic/loader.py:23 GenericLoader
  * .read_dataframe, which accepts folders of parquet/csv/json).
  *
  * Spark's multi-file readers already provide the distributed scan with
  * column pruning and predicate pushdown, so the loader's job is the
  * naming/metadata contract. The hdf5-based loaders (mpes/flash/sxp) are
  * represented by the same column contract over parquet: a converter runs
  * once at the edge (outside this library — no hdf5 codec in a Spark
  * executor), after which everything downstream is identical.
  */
object SedReader {

  /** Timestamp format of the mpes `FirstEventTimeStamp` attribute —
    * flexible like the reference's `%Y-%m-%dT%H:%M:%S.%f%z`: 0–9
    * fractional digits and `Z` / `±HH:MM` / `±HHMM` / `±HH` offsets. */
  private[io] val FirstEventTsFormat: java.time.format.DateTimeFormatter = {
    import java.time.format.DateTimeFormatterBuilder
    import java.time.temporal.ChronoField
    new DateTimeFormatterBuilder()
      .appendPattern("yyyy-MM-dd'T'HH:mm:ss")
      .optionalStart()
      .appendFraction(ChronoField.NANO_OF_SECOND, 1, 9, true)
      .optionalEnd()
      .optionalStart().appendOffset("+HH:MM", "Z").optionalEnd()
      .optionalStart().appendOffset("+HHMM", "Z").optionalEnd()
      .optionalStart().appendOffset("+HH", "Z").optionalEnd()
      .toFormatter()
  }

  /** Epoch seconds of a file's first event: the parsed attribute when
    * present, else the file's modification time (reference fallback). */
  private[io] def firstEventSeconds(attr: Option[String], mtimeMillis: => Long): Double =
    attr match {
      case Some(s) =>
        java.time.OffsetDateTime.parse(s, FirstEventTsFormat).toInstant.toEpochMilli / 1000.0
      case None => mtimeMillis / 1000.0
    }

  /** Read a file, folder, or glob in the given format. */
  def read(spark: SparkSession, path: String, format: String = "parquet",
           schema: Option[StructType] = None): DataFrame = {
    val r0 = spark.read.format(format)
    val r1 = schema.map(r0.schema).getOrElse(r0)
    val r = format match {
      case "csv" => r1.option("header", "true")
        .option("inferSchema", schema.isEmpty.toString)
      case _ => r1
    }
    r.load(path)
  }

  /** A parquet file or flat folder of parquet files, with the schema
    * taken from one footer read on the driver instead of Spark's
    * schema-inference job (see [[org.apache.spark.sql.graft.ParquetFooterSchema]]);
    * Spark infers it as usual where that does not apply. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    org.apache.spark.sql.graft.ParquetFooterSchema.infer(spark, path)
      .fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))

  /** Add a stable per-source-file id column (the multi-file/per-run
    * bookkeeping of the reference loaders, e.g. split_dld_sectors /
    * per-file metadata). File names are enumerated once on the driver,
    * sorted for determinism, and joined back via a broadcast map on
    * `input_file_name()` — no shuffle of the event data. */
  def withFileId(df: DataFrame, idCol: String = "file_id",
                 nameCol: String = "file_name"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Dataset.inputFiles and input_file_name() both emit the
    // percent-encoded SparkPath URI (verified incl. space/% paths), so
    // the join keys match verbatim; a scheme-slash collapse on both
    // sides guards against sources that disagree on file:/ vs file:///.
    // The runtime side stays pure codegen'd column algebra — no UDF.
    // The emitted nameCol is the DECODED form (human-readable, stable
    // for withFileAttributes' base-name joins — the pre-round-7
    // contract).
    val encoded = "__graft_encoded_name"
    val files = df.inputFiles.sorted.zipWithIndex.map { case (f, i) =>
      val key = f.replaceFirst("^file:/+", "file:/")
      (key, java.net.URLDecoder.decode(key, "UTF-8"), i.toLong)
    }.toSeq
    val mapping = broadcast(files.toDF(encoded, nameCol, idCol))
    df.withColumn(encoded,
        regexp_replace(input_file_name(), "^file:/+", "file:/"))
      .join(mapping, Seq(encoded), "left")
      // loud failure beats silent row loss if a name still doesn't match —
      // checked IN-FLIGHT: an unmatched name trips raise_error inside the
      // same job, instead of a second validation pass over the data
      .withColumn(idCol, coalesce(col(idCol),
        raise_error(concat(
          lit("input_file_name() not in the driver-side file listing: "),
          col(encoded))).cast("long")))
      .drop(encoded)
  }

  /** Per-file metadata table — the Spark-native form of the reference's
    * per-file parquet-footer gather (loader/utils.py:266
    * get_parquet_metadata: filename + row count + per-column min/max):
    * ONE distributed aggregation keyed by file id; map-side partial agg
    * collapses to (files × columns) tiny rows, format-agnostic. */
  def fileMetadata(df: DataFrame, statsCols: Seq[String] = Nil,
                   idCol: String = "file_id", nameCol: String = "file_name"): DataFrame = {
    val withId = withFileId(df, idCol, nameCol)
    val aggs = count(lit(1)).as("n_rows") +:
      statsCols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    withId.groupBy(col(idCol), col(nameCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Distributed mpes-style HDF5 ingestion — the real thing, not a
    * parquet stand-in: each scan file is parsed on an EXECUTOR by the
    * pure-JVM [[Hdf5File]] reader (no libhdf5), `Stream_N` datasets are
    * matched to channels via their `Name` attribute, and per-event
    * timestamps are derived from the `msMarkers` dataset + the file's
    * `FirstEventTimeStamp` attribute — the semantics of
    * reference src/sed/loader/mpes/loader.py:93 hdf5_to_array
    * (channel gather + searchsorted millisecond timestamps). One task per
    * file; no driver-side data movement.
    */
  def readMpesH5(spark: SparkSession, paths: Seq[String],
                 channels: Seq[String] = Seq("X", "Y", "t", "ADC"),
                 timestamps: Boolean = true,
                 msMarkersKey: String = "msMarkers",
                 firstEventTimeStampKey: String = "FirstEventTimeStamp"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val files = paths.sorted.zipWithIndex
    val chs = channels
    val withTs = timestamps
    val rdd = spark.sparkContext.parallelize(files, math.max(1, files.size)).flatMap {
      case (path, fid) =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val hp = new org.apache.hadoop.fs.Path(path)
        val f = Hdf5File.fromHadoop(path, conf)
        val byName = f.rootNames.filter(_.startsWith("Stream_"))
          .flatMap(s => f.attributes(s).get("Name").map(_.toString -> s)).toMap
        val cols = chs.map(c => f.readDoubles(byName.getOrElse(c,
          throw new NoSuchElementException(s"channel '$c' not in $path (have ${byName.keys.mkString(",")})"))))
        val n = cols.head.length
        require(cols.forall(_.length == n), s"unequal stream lengths in $path")
        val tsOf: Int => Double = if (withTs) {
          val markers = f.readDoubles(msMarkersKey)
          // reference semantics (loader/mpes/loader.py get_start_and_end_time):
          // %f%z accepts 1-6 fractional digits and ±HH:MM / ±HHMM / Z
          // offsets; a missing attribute degrades to the file mtime
          val t0 = firstEventSeconds(
            f.attributes("/").get(firstEventTimeStampKey).map(_.toString),
            hp.getFileSystem(conf).getFileStatus(hp).getModificationTime)
          (i: Int) => {
            // ms elapsed = count of markers <= i (searchsorted right)
            var lo = 0; var hi = markers.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (markers(mid) <= i) lo = mid + 1 else hi = mid
            }
            t0 + lo / 1000.0
          }
        } else _ => 0.0
        (0 until n).iterator.map { i =>
          val base = fid.toLong +: chs.indices.map(c => cols(c)(i))
          Row.fromSeq(if (withTs) base :+ tsOf(i) else base)
        }
    }
    val schema = StructType(
      StructField("file_id", LongType) +:
        chs.map(c => StructField(c, DoubleType)) ++:
        (if (withTs) Seq(StructField("timeStamps", DoubleType)) else Nil))
    spark.createDataFrame(rdd, schema)
  }

  /** Distributed train-resolved HDF5 ingestion (the flash/sxp DAQ shape —
    * reference src/sed/loader/sxp/loader.py): per-electron channels are
    * 2-D [train × maxHits] datasets zero-padded past the last hit,
    * per-train channels are 1-D [train] datasets, and a 1-D train-id
    * dataset indexes the rows. Each train's valid hits (validity channel
    * ≠ 0) explode into events carrying (train_id, electron_id, channels,
    * per-train values) — the flat form of the reference's
    * (trainId, pulseId, electronId) multi-index; pulse splitting stays a
    * downstream groupBy on the pulse-id channel. One task per file. */
  def readTrainH5(spark: SparkSession, paths: Seq[String],
                  electronChannels: Map[String, String],
                  trainIdKey: String,
                  validityChannel: String,
                  trainChannels: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(electronChannels.contains(validityChannel), "validity channel must be an electron channel")
    val eNames = electronChannels.keys.toSeq.sorted
    val tNames = trainChannels.keys.toSeq.sorted
    val files = paths.sorted.zipWithIndex
    val rdd = spark.sparkContext.parallelize(files, math.max(1, files.size)).flatMap {
      case (path, fid) =>
        val f = Hdf5File.fromHadoop(path, new org.apache.hadoop.conf.Configuration())
        val trains = f.readDoubles(trainIdKey)
        val n = trains.length
        val eData = eNames.map(c => f.readDoubles(electronChannels(c)))
        val maxHits = (eData.head.length / n).toInt
        require(eData.forall(_.length == n.toLong * maxHits), s"ragged electron channels in $path")
        val tData = tNames.map(c => f.readDoubles(trainChannels(c)))
        require(tData.forall(_.length == n), s"per-train channel length mismatch in $path")
        val vIdx = eNames.indexOf(validityChannel)
        (0 until n).iterator.flatMap { ti =>
          val rowBase = ti * maxHits
          (0 until maxHits).iterator
            .filter(h => eData(vIdx)(rowBase + h) != 0.0)
            .map { h =>
              Row.fromSeq(
                fid.toLong +: trains(ti).toLong +: h.toLong +:
                  (eNames.indices.map(c => eData(c)(rowBase + h)) ++
                    tNames.indices.map(c => tData(c)(ti))))
            }
        }
    }
    val schema = StructType(
      Seq(StructField("file_id", LongType), StructField("train_id", LongType),
        StructField("electron_id", LongType)) ++
        eNames.map(c => StructField(c, DoubleType)) ++
        tNames.map(c => StructField(c, DoubleType)))
    spark.createDataFrame(rdd, schema)
  }

  /** Resolve run numbers to their data paths — the reference loaders'
    * runs→files resolution (mpes `get_files_from_run_id`: entries named
    * `Scan0123_*` belong to run 123; flash/sxp have equivalent run-id
    * naming). `runPattern` needs one capture group holding the integer
    * run id; listing is a driver-side FS call, sorted for determinism. */
  def filesForRuns(spark: SparkSession, folder: String, runs: Seq[Int],
                   runPattern: String = """.*Scan(\d+)_.*"""): Seq[String] = {
    val re = runPattern.r
    val want = runs.toSet
    val p = new org.apache.hadoop.fs.Path(folder)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq.map(_.getPath)
      .filter { f =>
        f.getName match {
          case re(id) => want.contains(id.toInt)
          case _ => false
        }
      }
      .map(_.toString).sorted
  }

  /** Read the files of the given runs as one DataFrame (processor.py's
    * runs= ingestion path on the parquet column contract). */
  def readRuns(spark: SparkSession, folder: String, runs: Seq[Int],
               format: String = "parquet",
               runPattern: String = """.*Scan(\d+)_.*"""): DataFrame = {
    val files = filesForRuns(spark, folder, runs, runPattern)
    require(files.nonEmpty, s"no files for runs ${runs.mkString(",")} in $folder")
    spark.read.format(format).load(files: _*)
  }

  /** Join driver-provided per-file attributes (keyed by file BASE name, as
    * the reference keys its per-file metadata dicts) onto the events:
    * broadcast map join, no event shuffle. Missing files get nulls.
    * This is the per-run attribute plumbing of the hdf5 loaders (bias
    * voltage, train id ranges, ...) on the parquet column contract. */
  def withFileAttributes(df: DataFrame, attrs: Map[String, Map[String, String]],
                         idCol: String = "file_id", nameCol: String = "file_name"): DataFrame = {
    val spark = df.sparkSession
    val attrCols = attrs.values.flatMap(_.keys).toSeq.distinct.sorted
    val schema = StructType(
      org.apache.spark.sql.types.StructField("__attr_file",
        org.apache.spark.sql.types.StringType) +:
      attrCols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)))
    val rows = attrs.toSeq.sortBy(_._1).map { case (f, m) =>
      org.apache.spark.sql.Row.fromSeq(f +: attrCols.map(c => m.getOrElse(c, null)))
    }
    val attrDf = broadcast(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema))
    withFileId(df, idCol, nameCol)
      .withColumn("__base", element_at(split(col(nameCol), "/"), -1))
      .join(attrDf, col("__base") === col("__attr_file"), "left")
      .drop("__base", "__attr_file")
  }

  /** Read a binned cube written by `SedWriter.nexus` back into a
    * long-form DataFrame — the twin of the reference's h5 cube loader
    * (reference: src/sed/io/hdf5.py:133 load_h5, which rebuilds the
    * xarray from the stored axis arrays + data block). Follows the NeXus
    * `default`/`signal`/`axes` attributes rather than hard-coded names.
    * The cube is plot-sized by construction (the export is driver-local
    * too), so materializing rows on the driver is bounded; everything
    * downstream is a normal distributed DataFrame.
    *
    * Returns the data in long form (one row per cell: axis CENTER
    * coordinates + count — the exact inverse of denseCube's row-major
    * flattening) plus the per-axis center arrays. */
  def loadBinned(spark: SparkSession,
                 path: String): (DataFrame, Seq[(String, Array[Double])]) = {
    val f = Hdf5File.fromHadoop(path, spark.sparkContext.hadoopConfiguration)
    val entryName = f.attributes("/").get("default").map(_.toString).getOrElse("entry")
    val dataName = f.attributes(s"/$entryName").get("default").map(_.toString).getOrElse("data")
    val dataPath = s"/$entryName/$dataName"
    val dAttrs = f.attributes(dataPath)
    val signal = dAttrs.get("signal").map(_.toString).getOrElse("counts")
    val axisNames = dAttrs.get("axes").map(_.toString) match {
      case Some(s) if s.nonEmpty => s.split(":").toSeq
      case _ => throw new IllegalArgumentException(s"$path: no axes attribute at $dataPath")
    }
    val axes = axisNames.map(a => a -> f.readDoubles(s"$dataPath/$a"))
    val dims = f.shape(s"$dataPath/$signal").map(_.toInt)
    require(dims == axes.map(_._2.length),
      s"$path: counts shape $dims vs axis lengths ${axes.map(_._2.length)}")
    val cube = f.readDoubles(s"$dataPath/$signal")

    // invert the row-major flattening: cell i -> per-axis indices
    val strides = dims.scanRight(1)(_ * _).tail
    val rows = new Array[org.apache.spark.sql.Row](cube.length)
    var i = 0
    while (i < cube.length) {
      val coords = axes.indices.map(d => axes(d)._2((i / strides(d)) % dims(d)))
      rows(i) = org.apache.spark.sql.Row.fromSeq(coords :+ cube(i))
      i += 1
    }
    val schema = StructType((axisNames :+ "cnt").map(c =>
      org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.DoubleType)))
    (spark.createDataFrame(spark.sparkContext.parallelize(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(rows)), schema), axes)
  }
}
