package graft.io

import graft.SparkSpecBase
import graft.operators.BinAxis
import graft.operators.Binning
import java.nio.file.Files

class IoSpec extends SparkSpecBase {
  import spark.implicits._

  test("read parquet/csv/json round-trips through SedWriter") {
    val dir = Files.createTempDirectory("graft_io").toString
    val df = events.select("event_id", "value", "event_type").limit(100)
    SedWriter.parquet(df, s"$dir/p")
    SedWriter.csv(df, s"$dir/c")
    SedWriter.json(df, s"$dir/j")
    assert(SedReader.read(spark, s"$dir/p").count() == 100)
    val c = SedReader.read(spark, s"$dir/c", "csv")
    assert(c.count() == 100 && c.columns.toSet == df.columns.toSet)
    assert(SedReader.read(spark, s"$dir/j", "json").count() == 100)
  }

  test("orc round-trips values exactly and prunes partitions") {
    val dir = Files.createTempDirectory("graft_io").toString
    val df = events.select("event_id", "value", "event_type").limit(100)
    SedWriter.orc(df, s"$dir/o")
    val back = SedReader.read(spark, s"$dir/o", "orc")
    assert(back.count() == 100)
    assert(back.orderBy("event_id").collect().toSeq ==
      df.orderBy("event_id").collect().toSeq)
    SedWriter.orc(df, s"$dir/op", partitionBy = Seq("event_type"))
    val one = SedReader.read(spark, s"$dir/op", "orc").filter($"event_type" === "click")
    assert(one.count() == df.filter($"event_type" === "click").count())
    assert(one.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("partitioned parquet write prunes on the partition column") {
    val dir = Files.createTempDirectory("graft_io").toString
    SedWriter.parquet(events.select("event_id", "value", "event_type"),
      s"$dir/part", partitionBy = Seq("event_type"))
    val back = SedReader.read(spark, s"$dir/part")
    val one = back.filter($"event_type" === "click")
    val expected = events.filter($"event_type" === "click").count()
    assert(one.count() == expected)
    // partition pruning visible in the scan
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && expected > 0)
  }

  test("withFileId assigns a stable id per source file") {
    val dir = Files.createTempDirectory("graft_io").toString
    events.limit(10).write.parquet(s"$dir/f0")
    events.limit(20).write.parquet(s"$dir/f1")
    val df = SedReader.read(spark, s"$dir/f*")
    val withId = SedReader.withFileId(df)
    assert(withId.count() == 30)
    val perFile = withId.groupBy("file_id").count().as[(Long, Long)].collect().toMap
    assert(perFile.values.toSet.subsetOf(Set(10L, 20L)))
    // deterministic across evaluations
    val again = SedReader.withFileId(df).groupBy("file_id").count().as[(Long, Long)].collect().toMap
    assert(perFile == again)
  }

  test("withFileId matches every row for paths with spaces and percent chars") {
    // the case the encoding parity exists for: input_file_name() yields
    // the percent-encoded URI, so a raw join against Path.toString would
    // silently drop every row from such files (left join -> raise_error)
    val dir = Files.createTempDirectory("graft_io sp%ace").toString
    events.limit(5).write.parquet(s"$dir/part a")
    events.limit(7).write.parquet(s"$dir/part b")
    val df = SedReader.read(spark, s"$dir/part*")
    val withId = SedReader.withFileId(df)
    assert(withId.filter(withId("file_id").isNull).count() == 0)
    assert(withId.count() == 12)
    val perFile = withId.groupBy("file_id").count().as[(Long, Long)].collect().toMap
    assert(perFile.values.toSet == Set(5L, 7L))
    // the emitted name column stays the readable decoded form
    assert(withId.select("file_name").as[String].head().contains("sp%ace"))
  }

  test("withFileId adds no extra validation job over a plain broadcast join") {
    val dir = Files.createTempDirectory("graft_io").toString
    events.limit(10).write.parquet(s"$dir/f0")
    events.limit(20).write.parquet(s"$dir/f1")
    val df = SedReader.read(spark, s"$dir/f*")

    def countJobs(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try { body; Thread.sleep(500) } // let the listener bus drain
      finally spark.sparkContext.removeSparkListener(listener)
      jobs.get()
    }

    // baseline: the structurally identical broadcast join WITHOUT the
    // in-flight null guard (AQE may split either into the same n jobs)
    import org.apache.spark.sql.functions.{broadcast, input_file_name}
    val mapping = df.inputFiles.sorted.zipWithIndex
      .map { case (f, i) => (f, i.toLong) }.toSeq.toDF("file_name", "file_id")
    val baseline = countJobs {
      df.withColumn("file_name", input_file_name())
        .join(broadcast(mapping), Seq("file_name"), "left").count()
    }
    val got = countJobs { assert(SedReader.withFileId(df).count() == 30) }
    assert(got <= baseline,
      s"withFileId ran $got jobs vs $baseline for the same join without validation")
  }

  test("fileMetadata: per-file row counts and column ranges") {
    val dir = Files.createTempDirectory("graft_io").toString
    Seq((1L, 5.0), (2L, 9.0)).toDF("id", "v").coalesce(1).write.parquet(s"$dir/fa")
    Seq((3L, -1.0), (4L, 2.0), (5L, 3.0)).toDF("id", "v").coalesce(1).write.parquet(s"$dir/fb")
    val df = SedReader.read(spark, s"$dir/f*")
    val meta = SedReader.fileMetadata(df, Seq("v"))
      .select("n_rows", "v_min", "v_max").as[(Long, Double, Double)].collect().toSet
    assert(meta == Set((2L, 5.0, 9.0), (3L, -1.0, 3.0)))
  }

  test("withFileAttributes joins per-file attributes by base name") {
    val dir = Files.createTempDirectory("graft_io").toString
    Seq(1L, 2L).toDF("id").coalesce(1).write.parquet(s"$dir/m/r0")
    Seq(3L).toDF("id").coalesce(1).write.parquet(s"$dir/m/r1")
    val df = SedReader.read(spark, s"$dir/m/r*")
    // base names of the actual part files, in file_id order
    val bases = df.inputFiles.sorted.map(_.split('/').last)
    val attrs = Map(
      bases(0) -> Map("bias" -> "16.5"),
      bases(1) -> Map("bias" -> "17.0"))
    val got = SedReader.withFileAttributes(df, attrs)
      .select("id", "bias").as[(Long, String)].collect().toMap
    val fileOf = SedReader.withFileId(df).select("id", "file_id")
      .as[(Long, Long)].collect().toMap
    got.foreach { case (id, bias) =>
      assert(bias == (if (fileOf(id) == 0L) "16.5" else "17.0"), s"row $id")
    }
  }

  test("attachFileMetadata merges per-file entries into processor attributes") {
    val dir = Files.createTempDirectory("graft_io").toString
    events.limit(10).select("event_id", "value").write.parquet(s"$dir/g0")
    events.limit(20).select("event_id", "value").write.parquet(s"$dir/g1")
    val df = SedReader.read(spark, s"$dir/g*")
    val proc = graft.sed.SedProcessor(df).attachFileMetadata(Seq("value"))
    assert(proc.dataframe.columns.contains("file_id"))
    val fileKeys = proc.attributes.keys.filter(_.startsWith("file:")).toSeq.sorted
    assert(fileKeys.size == df.inputFiles.length)
    assert(proc.attributes(fileKeys.head).contains("n_rows"))
    assert(proc.attributes(fileKeys.head).contains("value_min"))
  }

  test("tiff export writes a valid float32 baseline TIFF of the dense cube") {
    val axes = Seq(BinAxis("a", 2, 0.0, 2.0), BinAxis("b", 3, 0.0, 3.0))
    val df = Seq((0.5, 0.5), (0.5, 0.5), (1.5, 2.5)).toDF("a", "b")
    val hist = Binning.histogram(df, axes)
    val path = Files.createTempDirectory("grafttiff").toString + "/out.tiff"
    SedWriter.tiff(hist, axes, path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // header: II, magic 42, IFD offset
    assert(bb.get() == 'I'.toByte && bb.get() == 'I'.toByte && bb.getShort() == 42)
    val ifdOff = bb.getInt()
    // parse the IFD into tag -> value
    bb.position(ifdOff)
    val n = bb.getShort()
    val tags = (0 until n).map { _ =>
      val tag = bb.getShort() & 0xffff; val typ = bb.getShort()
      bb.getInt() // count
      val v = if (typ == 3) { val s = bb.getShort() & 0xffff; bb.getShort(); s.toLong }
              else bb.getInt().toLong
      tag -> v
    }.toMap
    assert(tags(256) == 3 && tags(257) == 2) // width=3 (b bins), height=2 (a bins)
    assert(tags(258) == 32 && tags(339) == 3 && tags(259) == 1) // float32, uncompressed
    // pixel payload equals the dense cube, row-major
    bb.position(tags(273).toInt)
    val px = Array.fill(6)(bb.getFloat())
    assert(px.toSeq == Seq(2.0f, 0.0f, 0.0f, 0.0f, 0.0f, 1.0f))
    assert(tags(279) == 24)
  }

  test("loadBinned reads a nexus cube back (io/hdf5.py load_h5 twin)") {
    import org.apache.spark.sql.functions.{col, floor}
    val axes = Seq(BinAxis("a", 2, 0.0, 2.0), BinAxis("b", 3, 0.0, 3.0))
    val df = Seq((0.5, 0.5), (0.5, 0.5), (1.5, 2.5)).toDF("a", "b")
    val hist = Binning.histogram(df, axes)
    val path = s"${Files.createTempDirectory("nexusrt")}/cube.nxs"
    SedWriter.nexus(hist, axes, path, compress = true)

    val (loaded, loadedAxes) = SedReader.loadBinned(spark, path)
    // axis centers round-trip exactly
    assert(loadedAxes.map(_._1) == Seq("a", "b"))
    assert(loadedAxes(0)._2.toSeq == Seq(0.5, 1.5))
    assert(loadedAxes(1)._2.toSeq == Seq(0.5, 1.5, 2.5))
    // full cube: product of dims rows, zeros included
    assert(loaded.count() == 6)
    val cells = loaded.as[(Double, Double, Double)].collect().toSet
    assert(cells == Set((0.5, 0.5, 2.0), (0.5, 1.5, 0.0), (0.5, 2.5, 0.0),
      (1.5, 0.5, 0.0), (1.5, 1.5, 0.0), (1.5, 2.5, 1.0)))
    // and the non-zero cells agree with the original sparse histogram
    val nz = loaded.filter(col("cnt") > 0)
      .withColumn("a", floor(col("a")).cast("long"))
      .withColumn("b", floor(col("b")).cast("long"))
    val orig = hist.select(col("a_bin").cast("long"), col("b_bin").cast("long"),
      col("cnt").cast("double"))
    assert(nz.select("a", "b", "cnt").as[(Long, Long, Double)].collect().toSet ==
      orig.as[(Long, Long, Double)].collect().toSet)
  }

  test("filesForRuns resolves run ids from entry names and readRuns loads them") {
    val dir = Files.createTempDirectory("graft_runs").toString
    Seq(1L, 2L).toDF("id").write.parquet(s"$dir/Scan0001_part0")
    Seq(3L).toDF("id").write.parquet(s"$dir/Scan0001_part1")
    Seq(4L).toDF("id").write.parquet(s"$dir/Scan0002_part0")
    Seq(9L).toDF("id").write.parquet(s"$dir/notarun")
    val files = SedReader.filesForRuns(spark, dir, Seq(1))
    assert(files.size == 2 && files.forall(_.contains("Scan0001")))
    val both = SedReader.readRuns(spark, dir, Seq(1, 2))
    assert(both.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    intercept[IllegalArgumentException] {
      SedReader.readRuns(spark, dir, Seq(7))
    }
  }

  test("denseCube renders the sparse histogram row-major with zeros for empty bins") {
    val axes = Seq(BinAxis("a", 2, 0.0, 2.0), BinAxis("b", 3, 0.0, 3.0))
    val df = Seq((0.5, 0.5), (0.5, 0.5), (1.5, 2.5)).toDF("a", "b")
    val cube = SedWriter.denseCube(Binning.histogram(df, axes), axes)
    assert(cube.toSeq == Seq(2.0, 0.0, 0.0, 0.0, 0.0, 1.0)) // (0,0)=2, (1,2)=1
  }

  test("FirstEventTimeStamp parsing: flexible fractions/offsets, mtime fallback") {
    import SedReader.firstEventSeconds
    // µs precision with a colon offset — the shape the strict pattern rejected
    val t = firstEventSeconds(Some("2023-01-30T15:38:07.123456+01:00"), 0L)
    assert(t == java.time.OffsetDateTime
      .parse("2023-01-30T15:38:07.123456+01:00").toInstant.toEpochMilli / 1000.0)
    // %z also accepts the compact +HHMM form — both must agree
    assert(firstEventSeconds(Some("2023-01-30T15:38:07.123456+0100"), 0L) == t)
    // ms precision + Z, and no fraction at all
    assert(firstEventSeconds(Some("1970-01-01T00:00:01.500Z"), 0L) == 1.5)
    assert(firstEventSeconds(Some("1970-01-01T00:00:02Z"), 0L) == 2.0)
    // missing attribute degrades to the file modification time
    assert(firstEventSeconds(None, 1700000000123L) == 1700000000.123)
    // unparseable input still fails loudly
    intercept[java.time.format.DateTimeParseException] {
      firstEventSeconds(Some("not-a-timestamp"), 0L)
    }
  }

  test("binned export writes data + axis metadata") {
    val dir = Files.createTempDirectory("graft_io").toString
    val axes = Seq(BinAxis("value", 10, 0.0, 500.0))
    SedWriter.binned(Binning.withCenters(Binning.histogram(events, axes), axes), axes, s"$dir/b")
    assert(SedReader.read(spark, s"$dir/b/data").count() > 0)
    val meta = SedReader.read(spark, s"$dir/b/axes", "json").collect()
    assert(meta.length == 1 && meta(0).getAs[String]("axis") == "value")
  }

  /** Spark jobs started by `body`. Listener events arrive in order, so a
    * described sentinel job run after `body` bounds the wait. */
  private def jobsDuring(body: => Unit): Int = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("jobsDuring sentinel")
      sc.parallelize(Seq(1)).count()
      sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains("jobsDuring sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("jobsDuring sentinel"))
      seen.size - 1
    } finally sc.removeSparkListener(listener)
  }

  test("binned axes JSON: Spark's JSON lines and _SUCCESS marker, overwritten, no Spark job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_io").toString
    val axes = Seq(BinAxis("kx", 96, -1.7, 1.7), BinAxis("e\"q\\u", 128, -4.0E-5, 2.5E7),
      BinAxis("t\tab", 2, 0.0, 1.0))
    SedWriter.writeAxes(spark, Seq(BinAxis("kx", 3, 0.0, 1.0)), s"$dir/axes") // overwritten below
    assert(jobsDuring(SedWriter.writeAxes(spark, axes, s"$dir/axes")) == 0)
    val axesDir = new java.io.File(s"$dir/axes")
    val parts = axesDir.listFiles().filter(_.getName.endsWith(".json"))
    assert(parts.length == 1 && new java.io.File(axesDir, "_SUCCESS").exists())
    val lines = scala.io.Source.fromFile(parts.head, "UTF-8").getLines().toSeq
    val sparkLines = axes.map(a => (a.col, a.nBins, a.lo, a.hi))
      .toDF("axis", "n_bins", "lo", "hi").toJSON.collect().toSeq
    assert(lines == sparkLines)
    val back = SedReader.read(spark, s"$dir/axes", "json")
      .select("axis", "n_bins", "lo", "hi").as[(String, Long, Double, Double)].collect().toSeq
    assert(back == axes.map(a => (a.col, a.nBins.toLong, a.lo, a.hi)))
  }

  test("parquet reader: footer schema equals Spark's inference, with no Spark job") {
    val tables = graft.sed.Tables.all.map(t => s"$Sf/$t.parquet")
      .filter(p => new java.io.File(p).exists())
    assert(tables.size >= 8)
    val dir = Files.createTempDirectory("graft_io").toString
    val flat = s"$dir/flat"
    spark.range(0, 16000, 1, 16).selectExpr("id", "CAST(id AS DOUBLE) AS x",
      "CAST(id % 7 AS INT) AS s", "CAST(id AS STRING) AS str", "array(id, id) AS arr",
      "named_struct('a', id, 'b', 'z') AS st").write.parquet(flat)
    assert(new java.io.File(flat).listFiles().count(_.getName.endsWith(".parquet")) == 16)
    (tables :+ flat).foreach { p =>
      assert(org.apache.spark.sql.graft.ParquetFooterSchema.infer(spark, p).isDefined, p)
      assert(SedReader.parquet(spark, p).schema == spark.read.parquet(p).schema, p)
    }
    assert(SedReader.parquet(spark, flat).count() == 16000L)
    // partition directories and schema merging fall back to Spark's inference
    val parted = s"$dir/parted"
    spark.range(0, 100).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(parted)
    assert(org.apache.spark.sql.graft.ParquetFooterSchema.infer(spark, parted).isEmpty)
    assert(SedReader.parquet(spark, parted).schema == spark.read.parquet(parted).schema)
    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    assert(org.apache.spark.sql.graft.ParquetFooterSchema.infer(merging, flat).isEmpty)
    // the reader calls themselves run no Spark job
    assert(jobsDuring {
      SedReader.parquet(spark, flat)
      graft.sed.SedProcessor.fromParquet(spark, flat)
      graft.sed.Tables.load(spark, Sf, "events")
    } == 0)
    assert(jobsDuring(spark.read.parquet(flat)) >= 1, "sanity: Spark's inference runs a job")
  }
}
