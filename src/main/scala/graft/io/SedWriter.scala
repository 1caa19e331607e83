package graft.io

import org.apache.spark.sql.DataFrame
import graft.operators.BinAxis

/** Result sinks — the Spark-native analogue of sed's io/ exporters
  * (reference: src/sed/io/tiff.py, io/nexus.py, core/processor.py save
  * paths). Binned results are exported as LONG-FORM tables (one row per
  * non-empty bin + center coordinates + axis metadata), the only
  * representation that stays sane when the cube is sparse or huge; a
  * dense xarray/tiff render is a trivial local pivot of that table.
  */
object SedWriter {

  def parquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def csv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def json(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Columnar ORC sink (Spark-native; readable back via SedReader.read
    * with format="orc"). Avro is NOT offered: the spark-avro datasource
    * module is not on this distribution's classpath. */
  def orc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** Render a (small) binned result as a DENSE row-major cube on the
    * driver — the xarray `DataArray.values` analogue for plotting/export.
    * Deliberately driver-local: only valid when ∏ nBins is plot-sized;
    * the distributed representation stays sparse long-form. */
  def denseCube(hist: DataFrame, axes: Seq[BinAxis],
                cntCol: String = "cnt"): Array[Double] = {
    val sizes = axes.map(_.nBins)
    require(sizes.product <= 16777216, s"dense cube too large: ${sizes.mkString("x")}")
    val out = new Array[Double](sizes.product)
    val strides = sizes.scanRight(1)(_ * _).tail // row-major
    val rows = hist.select(
      (axes.map(a => org.apache.spark.sql.functions.col(a.idxName)) :+
        org.apache.spark.sql.functions.col(cntCol)): _*).collect()
    rows.foreach { r =>
      var off = 0
      var i = 0
      while (i < axes.length) { off += r.getLong(i).toInt * strides(i); i += 1 }
      out(off) = r.get(axes.length) match {
        case l: Long => l.toDouble
        case d: Double => d
        case x => x.toString.toDouble
      }
    }
    out
  }

  /** Export a 2-D binned histogram as a baseline TIFF — 32-bit IEEE float
    * samples, uncompressed, little-endian, single strip — the same pixel
    * format sed's `to_tiff` produces via tifffile (reference:
    * src/sed/io/tiff.py:14 to_tiff, float32 conversion at :60). Written
    * with plain byte I/O: no imaging library needed for baseline TIFF,
    * so this export is NOT stubbed. Driver-local like denseCube (export
    * of a plot-sized cube; the distributed representation stays
    * long-form parquet via `binned`). */
  def tiff(hist: DataFrame, axes: Seq[BinAxis], path: String,
           cntCol: String = "cnt"): Unit = {
    require(axes.size == 2, "TIFF export is for 2-D histograms")
    val rows = axes(0).nBins; val cols = axes(1).nBins
    val cube = denseCube(hist, axes, cntCol)
    val dataBytes = rows * cols * 4
    val entries = Seq[(Int, Int, Long)](  // (tag, type 3=SHORT/4=LONG, value)
      (256, 4, cols.toLong),              // ImageWidth
      (257, 4, rows.toLong),              // ImageLength
      (258, 3, 32L),                      // BitsPerSample
      (259, 3, 1L),                       // Compression: none
      (262, 3, 1L),                       // Photometric: BlackIsZero
      (273, 4, 8L),                       // StripOffsets: data right after header
      (277, 3, 1L),                       // SamplesPerPixel
      (278, 4, rows.toLong),              // RowsPerStrip: one strip
      (279, 4, dataBytes.toLong),         // StripByteCounts
      (339, 3, 3L))                       // SampleFormat: IEEE float
    val bb = java.nio.ByteBuffer.allocate(8 + dataBytes + 2 + entries.size * 12 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42)
    bb.putInt(8 + dataBytes) // IFD offset
    cube.foreach(v => bb.putFloat(v.toFloat))
    bb.putShort(entries.size.toShort)
    entries.foreach { case (tag, typ, value) =>
      bb.putShort(tag.toShort).putShort(typ.toShort).putInt(1)
      if (typ == 3) { bb.putShort(value.toShort); bb.putShort(0) }
      else bb.putInt(value.toInt)
    }
    bb.putInt(0) // no next IFD
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, bb.array())
  }

  /** Export a binned histogram as a NeXus NXdata HDF5 file — actual HDF5
    * bytes via the dependency-free [[Hdf5Writer]], following the NeXus
    * conventions the reference's io/nexus.py export produces through
    * pynxtools: `/entry` (NXentry) → `/entry/data` (NXdata) with
    * `signal`/`axes` attributes, a dense row-major `counts` array, and a
    * bin-center dataset per axis. Driver-local like denseCube (export of
    * a plot-sized cube). Round-trip readable by [[Hdf5File]]. */
  /** Render a nested metadata tree (MetaHandler.metadata shape) as an
    * HDF5 group: sub-maps become sub-groups, numeric sequences become
    * double datasets, scalar leaves become attributes. Groups are tagged
    * NXcollection — the NeXus class pynxtools uses for free-form
    * metadata (reference io/nexus.py via the pynxtools converter, fed
    * from core/metadata.py MetaHandler). */
  private def metaGroup(name: String, m: Map[String, Any]): Hdf5Writer.Group = {
    import Hdf5Writer._
    val children = scala.collection.mutable.ArrayBuffer.empty[Node]
    val attrs = scala.collection.mutable.ArrayBuffer.empty[(String, Any)]
    m.toSeq.sortBy(_._1).foreach {
      case (k, v: Map[_, _]) =>
        children += metaGroup(k, v.asInstanceOf[Map[String, Any]])
      case (k, v: Seq[_]) if v.nonEmpty && v.forall(_.isInstanceOf[Double]) =>
        children += DoubleDataset(k, Seq(v.length.toLong),
          v.asInstanceOf[Seq[Double]].toArray)
      case (k, v) => attrs += (k -> (v match {
        case s: String => s
        case d: Double => d
        case l: Long => l
        case i: Int => i.toLong
        case b: Boolean => if (b) 1L else 0L
        case bi: BigInt => bi.toLong
        case other => String.valueOf(other)
      }))
    }
    Group(name, children.toSeq, attrs = ("NX_class" -> "NXcollection") +: attrs.toSeq)
  }

  /** The NXdata group (dense cube + axis-center datasets + signal/axes
    * attrs) shared by the plain and NXmpes-mapped NeXus exports. */
  private def dataGroup(hist: DataFrame, axes: Seq[BinAxis], cntCol: String,
                        compress: Boolean): Hdf5Writer.Group = {
    import Hdf5Writer._
    val cube = denseCube(hist, axes, cntCol)
    val axisSets = axes.map { a =>
      val centers = Array.tabulate(a.nBins)(i => a.lo + (i + 0.5) * a.step)
      DoubleDataset(a.col, Seq(a.nBins.toLong), centers,
        attrs = Seq("long_name" -> a.col))
    }
    val dims = axes.map(_.nBins.toLong)
    // compressed cubes: shuffle+deflate chunked layout (physics cubes are
    // mostly-empty -> order-of-magnitude smaller files). Chunk count is
    // kept <= 64 (one conformant chunk B-tree leaf at the default
    // indexed-storage K=32), splitting each axis ~64^(1/rank) ways
    val counts =
      if (compress) {
        val splits = math.max(1, math.pow(64.0, 1.0 / dims.size).toInt)
        val chunkDims = dims.map(d => (((d + splits - 1) / splits)).toInt)
        ChunkedDoubleDataset("counts", dims, chunkDims, cube,
          attrs = Seq("long_name" -> "counts"))
      } else DoubleDataset("counts", dims, cube,
        attrs = Seq("long_name" -> "counts"))
    Group("data", counts +: axisSets, attrs = Seq(
      "NX_class" -> "NXdata",
      "signal" -> "counts",
      "axes" -> axes.map(_.col).mkString(":"))) // legacy colon form: fixed-size string
  }

  def nexus(hist: DataFrame, axes: Seq[BinAxis], path: String,
            cntCol: String = "cnt", compress: Boolean = false,
            metadata: Map[String, Any] = Map.empty): Unit = {
    import Hdf5Writer._
    val data = dataGroup(hist, axes, cntCol, compress)
    // the metadata tree rides under /entry as one NXcollection group per
    // top-level key (instrument, process, ...), nested maps as
    // sub-groups, leaves as attributes — the structural twin of the
    // instrument/process tree the reference's NeXus export carries
    val metaGroups = metadata.toSeq.sortBy(_._1).collect {
      case (k, v: Map[_, _]) => metaGroup(k, v.asInstanceOf[Map[String, Any]])
      case (k, v) => metaGroup(k, Map("value" -> v))
    }
    val entry = Group("entry", data +: metaGroups, attrs = Seq(
      "NX_class" -> "NXentry", "default" -> "data"))
    Hdf5Writer.write(Seq(entry), Seq("default" -> "entry"), path)
  }

  /** NXmpes-definition-conformant NeXus export: the metadata tree is
    * mapped onto NXmpes instrument/sample/calibration paths by a config
    * file in the pynxtools template dialect ([[Nxmpes]] — the twin of
    * reference io/nexus.py:14 to_nexus + config/NXmpes_config.json),
    * alongside the natively-built NXdata cube. Process sections present
    * in the tree are stamped `applied = true` (each reference calibrator
    * records `applied` as it runs; graft's CalibrationStore sections
    * exist exactly when applied). Written in the `latest` HDF5 layout —
    * NXmpes instrument groups exceed the classic writer's fan-out.
    * Returns the resolution report (which template paths resolved, which
    * required ones are missing). */
  def nexusNxmpes(hist: DataFrame, axes: Seq[BinAxis], path: String,
                  configJson: String, metadata: Map[String, Any],
                  cntCol: String = "cnt", compress: Boolean = false,
                  strict: Boolean = false): Nxmpes.Report = {
    import Hdf5Writer._
    val meta = metadata.get("process") match {
      case Some(p: Map[_, _]) =>
        val stamped = p.asInstanceOf[Map[String, Any]].map {
          case (k, v: Map[_, _]) =>
            val m = v.asInstanceOf[Map[String, Any]]
            k -> (if (m.contains("applied")) m else m + ("applied" -> true))
          case kv => kv
        }
        metadata + ("process" -> stamped)
      case _ => metadata
    }
    val (mapped, entryAttrs, rootAttrs, report) = Nxmpes.map(configJson, meta, strict)
    val data = dataGroup(hist, axes, cntCol, compress)
    val entry = Group("entry", data +: mapped,
      attrs = (("NX_class" -> ("NXentry": Any)) +:
        entryAttrs.filterNot(_._1 == "NX_class")) ++
        (if (entryAttrs.exists(_._1 == "default")) Nil else Seq("default" -> "data")))
    Hdf5Writer.write(Seq(entry),
      if (rootAttrs.nonEmpty) rootAttrs else Seq("default" -> "entry"),
      path, format = Latest)
    report
  }

  /** Export a binned histogram with its axis spec: data as parquet under
    * `<path>/data`, axis metadata (name/bins/range — the xarray coords
    * contract) as a one-row-per-axis JSON table under `<path>/axes`. The
    * axes table is a few lines, so it is written from the driver through
    * the Hadoop FileSystem API — the JSON lines, overwrite and `_SUCCESS`
    * marker of Spark's JSON writer, without a Spark job. */
  def binned(hist: DataFrame, axes: Seq[BinAxis], path: String): Unit = {
    parquet(hist, s"$path/data")
    writeAxes(hist.sparkSession, axes, s"$path/axes")
  }

  private[io] def writeAxes(spark: org.apache.spark.sql.SparkSession, axes: Seq[BinAxis],
                            path: String): Unit = {
    val lines = axes.map { a =>
      s"""{"axis":${jsonString(a.col)},"n_bins":${a.nBins},"lo":${a.lo},"hi":${a.hi}}"""
    }
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(dir, true)
    fs.mkdirs(dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir,
      s"part-00000-${java.util.UUID.randomUUID()}-c000.json"))
    try out.write(lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.create(new org.apache.hadoop.fs.Path(dir, "_SUCCESS")).close()
  }

  /** A JSON string literal, escaped as Jackson (Spark's JSON writer) does. */
  private def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case '\b' => b ++= "\\b"
      case '\f' => b ++= "\\f"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04X"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
