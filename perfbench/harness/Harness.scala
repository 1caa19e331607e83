package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, lit, md5}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.calibrate.MomentumCorrection
import graft.io.SedWriter
import graft.operators.{BinAxis, Dedup, GenIndex}
import graft.sed.SedProcessor
import graft.streaming.SedStreaming

/** Closed-loop client of one benchmark workload: one process, one client,
  * calling graft's public APIs only. Arguments are `key=value` pairs (see
  * run.py). Prints one `PERFBENCH {json}` line: the measured operations,
  * the start of the first measured operation, peak RSS and, when traced,
  * the per-layer figures gathered from Spark's listener interfaces and
  * from spans around the calls into each graft module. */
object Harness {

  /** A timed interval around one call; `parent` is the index of the
    * measured operation it belongs to, -1 for set-up and check work; `ok`
    * is false when the call threw. */
  final case class Span(name: String, parent: Int, startMs: Long, endMs: Long, seconds: Double,
                        ok: Boolean)

  final class Clock {
    val spans = ArrayBuffer[Span]()
    def span[T](name: String, parent: Int)(f: => T): T = {
      val ms = System.currentTimeMillis()
      val t = System.nanoTime()
      var ok = false
      try { val r = f; ok = true; r }
      finally spans += Span(name, parent, ms, System.currentTimeMillis(),
        (System.nanoTime() - t) / 1e9, ok)
    }
  }

  /** A workload: `round(first)` runs one whole round of operations, one
    * `op` span each (their ids start at `first`; -1 marks warm-up rounds).
    * `opRows` holds the input rows of each operation of a round. An
    * operation whose span did not end normally counted as failed, and so
    * does every operation of the round after it. */
  trait Workload {
    def warmupRounds: Int
    def opRows: Seq[Long]
    def round(first: Int): Unit
    /** Untimed work after the measurement: artifacts for the checks and,
      * when traced, workload-specific layer figures. */
    def finish(trace: Boolean): Map[String, Double] = Map.empty
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val trace = a("trace") == "1"
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[${a("cores")}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val clock = new Clock
    val w: Workload = a("workload") match {
      case "sed_bin" => new SedBin(spark, a, clock)
      case "stream_ingest" => new StreamIngest(spark, a, clock, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def attempt(first: Int): Unit =
      try w.round(first) catch {
        case NonFatal(e) => System.err.println(s"perfbench: operation failed: $e")
      }
    val warm = (0 until w.warmupRounds).map { _ =>
      val t = System.nanoTime(); attempt(-1); (System.nanoTime() - t) / 1e9
    }
    val jit = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val setupJitS = jit.getTotalCompilationTime / 1e3
    val setupGcS = gcs.map(_.getCollectionTime).sum / 1e3
    val firstOpUs = {
      val i = java.time.Instant.now()
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    // whole rounds until the budget is spent; another round is started
    // while, at the previous round's length, it would end nearer to the
    // budget than stopping now does, so slow runs do not lose a round
    val budget = a("seconds").toDouble
    val t0 = System.nanoTime()
    var attempted = 0
    var last = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (attempted == 0 || elapsed + last / 2 <= budget) {
      val r0 = System.nanoTime()
      attempt(attempted)
      attempted += w.opRows.size
      last = (System.nanoTime() - r0) / 1e9
    }
    val ops = clock.spans.filter(s => s.name == "op" && s.parent >= 0 && s.ok).sortBy(_.parent)
    val extra = w.finish(trace)
    tracer.foreach(_.drain())
    val opJobs = tracer.map(_.jobsPerOp(ops.toSeq)).getOrElse(Nil)
    val layers = tracer.map { t =>
      t.layers(ops.toSeq, clock.spans.toSeq) ++ extra ++
        Map("jvm.jit_s" -> setupJitS, "jvm.gc_s" -> setupGcS)
    }.getOrElse(Map.empty)
    val rss = peakRssMb()
    val opsJson = ops.map(s => s"[${s.seconds},${w.opRows(s.parent % w.opRows.size)}]").mkString(",")
    val layersJson = layers.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) 0.0 else v}""" }.mkString(",")
    println(s"""PERFBENCH {"attempted":$attempted,"ops":[$opsJson],"warmup_s":[${warm.mkString(",")}],""" +
      s""""op_jobs":[${opJobs.mkString(",")}],"first_op_epoch_us":$firstOpUs,""" +
      s""""peak_rss_mb":$rss,"layers":{$layersJson}}""")
    spark.stop()
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  // -------------------------------------------------------------------------
  // sed_bin
  // -------------------------------------------------------------------------

  /** Generated detector events → jitter → sector alignment → momentum
    * correction → k axes → energy axis → 3-D histogram → cube write. The
    * plan is rebuilt from the reader call on for every operation. */
  final class SedBin(spark: SparkSession, a: Map[String, String], clock: Clock) extends Workload {
    private val events = s"${a("input")}/events"
    private val cube = s"${a("work")}/cube"
    private val rows = a("rows").toLong
    private val det = a("det").toInt
    private val axes = a("axes").split(";").toSeq.map { s =>
      val Array(c, n, lo, hi) = s.split(":")
      BinAxis(c, n.toInt, lo.toDouble, hi.toDouble)
    }
    private val delays = a("sector_delays").split(",").toSeq.map(_.toDouble)
    private val dfield = {
      val shear = a("shear").toDouble
      val c = det / 2.0
      MomentumCorrection.Dfield(
        Array.tabulate(det * det)(k => k / det + shear * (k % det - c)),
        Array.tabulate(det * det)(k => k % det - shear * (k / det - c)), det, det)
    }
    private val kScale = a("k_scale").toDouble

    val warmupRounds = 2
    val opRows = Seq(rows)

    def round(first: Int): Unit = clock.span("op", first) {
      val proc = clock.span("read", first)(SedProcessor.fromParquet(spark, events))
      val hist = clock.span("chain", first) {
        proc.addJitter(Seq("x", "y", "tof"), "event_id", a("jitter_amp").toDouble)
          .alignDldSectors("sector", delays)
          .applyMomentumCorrection(dfield, ((0.0, det.toDouble), (0.0, det.toDouble)))
          .copy(xCol = "xc", yCol = "yc")
          .appendKAxis(0.0, det / 2.0, kScale, 1.0, 0.0, det / 2.0, kScale, 1.0)
          .appendEnergyAxis(a("tof_distance").toDouble, a("time_offset").toDouble,
            a("tof_binwidth").toDouble, a("tof_binning").toInt)
          .compute(axes)
      }
      clock.span("write", first)(SedWriter.binned(hist, axes, cube))
    }
  }

  // -------------------------------------------------------------------------
  // stream_ingest
  // -------------------------------------------------------------------------

  /** Staged one-file-per-batch feed → SedStreaming.streamingDedupIngest with
    * in-loop compaction. A round is one pass over the whole feed into a
    * fresh index, so every round does the same work; an operation is one
    * micro-batch: the batch file lands in the watched directory and the
    * client waits for the query to process all available input. */
  final class StreamIngest(spark: SparkSession, a: Map[String, String], clock: Clock,
                           trace: Boolean) extends Workload {
    private val work = a("work")
    private val compactEvery = a("compact_every").toInt
    private val feedFiles = Files.list(Paths.get(a("input"), "feed")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.getFileName.toString)
    private val batchRows = a("batch_rows").toLong
    private val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    private var pass = 0
    val progress = ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val indexFigures = ArrayBuffer[(String, Double)]()

    val warmupRounds = 1
    val opRows = feedFiles.map(_ => batchRows)

    def round(first: Int): Unit = {
      // keep only the newest pass on disk: it is the one the checks read
      if (pass > 0) deleteTree(Paths.get(work, "stream", s"pass-${pass - 1}"))
      pass += 1
      val dir = Paths.get(work, "stream", s"pass-${pass - 1}")
      val feed = dir.resolve("feed")
      val index = dir.resolve("index").toString
      Files.createDirectories(feed)
      val src = clock.span("read", first)(SedStreaming.fileStream(spark, feed.toString, schema))
      val q = SedStreaming.streamingDedupIngest(src, "doc_id", "text", index,
        dir.resolve("out").toString, dir.resolve("ck").toString, compactEvery = compactEvery)
      try {
        feedFiles.zipWithIndex.foreach { case (f, b) =>
          val before = if (trace && first >= 0) walk(index) else Map.empty[Object, Long]
          clock.span("op", if (first < 0) -1 else first + b) {
            Files.createLink(feed.resolve(f.getFileName), f)
            q.processAllAvailable()
          }
          if (trace && first >= 0) {
            if ((b + 1) % compactEvery == 0) {
              // bytes of new inodes in the new generation: what the swap wrote
              val active = walk(GenIndex.active(spark, index))
              indexFigures += "rewrite" -> active.filter(e => !before.contains(e._1)).values.sum / 1e6
            } else indexFigures += "append" -> (walk(index).values.sum - before.values.sum) / 1e6
          }
        }
      } finally q.stop()
      q.exception.foreach(e => throw e)
      if (first >= 0) progress ++= q.recentProgress.filter(_.numInputRows > 0)
    }

    override def finish(trace: Boolean): Map[String, Double] = {
      Files.write(Paths.get(work, "stream", "last-pass"), s"pass-${pass - 1}".getBytes)
      if (!trace) return Map.empty
      def med(xs: Seq[Double]) = Tracer.median(xs)
      def dur(k: String) = med(progress.toSeq.map(_.durationMs.get(k).toDouble / 1e3))
      val compaction = progress.toSeq.filter(p => (p.batchId + 1) % compactEvery == 0)
      val plain = progress.toSeq.filter(p => (p.batchId + 1) % compactEvery != 0)
      Map(
        "streaming.add_batch_s" -> dur("addBatch"),
        "streaming.query_planning_s" -> dur("queryPlanning"),
        "streaming.wal_commit_s" -> dur("walCommit"),
        "streaming.latest_offset_s" -> dur("latestOffset"),
        "streaming.compaction_batch_s" ->
          med(compaction.map(_.durationMs.get("triggerExecution").toDouble / 1e3)),
        "streaming.plain_batch_s" ->
          med(plain.map(_.durationMs.get("triggerExecution").toDouble / 1e3)),
        "index.mb_appended_per_batch" -> med(indexFigures.collect { case ("append", v) => v }.toSeq),
        "index.compaction_rewrite_mb" -> med(indexFigures.collect { case ("rewrite", v) => v }.toSeq)) ++
        dedupStages()
    }

    /** The Dedup operators one public call at a time, over the whole feed
      * (every document, its near copy and its exact copy): the composition
      * `Dedup.dedupPipeline` makes, each stage materialized, 3 passes after
      * the measured window; medians, counts from the last pass. The
      * ingest's classification runs the same MinHash, band-key and
      * shingle-Jaccard code against its index. */
    private def dedupStages(): Map[String, Double] = {
      val docs = spark.read.parquet(s"${a("input")}/feed")
      val key = md5(col("text").cast("binary"))
      val passes = (0 until 3).map { i =>
        val p = -100 - i
        val reps = clock.span("dedup.exact", p)(
          Dedup.exactRepresentatives(docs, "doc_id", key).localCheckpoint(true))
        val cand = clock.span("dedup.candidates", p)(
          Dedup.minhashCandidates(reps, "doc_id", "text").localCheckpoint(true))
        val nCand = cand.count().toDouble
        val verified = clock.span("dedup.verify", p)(
          Dedup.jaccardForPairs(reps, "doc_id", "text", 3, cand)
            .filter(col("jaccard") >= 0.8).localCheckpoint(true))
        val nVer = verified.count().toDouble
        clock.span("dedup.components", p)(
          Dedup.dedupCorpus(reps, "doc_id", verified)
            .write.mode("overwrite").parquet(s"$work/kept-staged"))
        (nCand, nVer)
      }
      val (nCand, nVer) = passes.last
      Map("dedup.candidate_pairs" -> nCand, "dedup.verified_pairs" -> nVer,
        "dedup.pair_yield" -> (if (nCand > 0) nVer / nCand else 0.0))
    }
  }

  /** Bytes of each distinct file (by inode) under `root`. */
  def walk(root: String): Map[Object, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Map.empty
    val s = Files.walk(p)
    try s.iterator().asScala.flatMap { f =>
      val at = Files.readAttributes(f, classOf[BasicFileAttributes])
      if (at.isRegularFile) Some(at.fileKey() -> at.size()) else None
    }.toMap finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
}

/** Listener-side record of the jobs, stages, tasks and query executions of
  * one run, attributed to measured operations by time window. Events come
  * asynchronously; [[drain]] runs a tagged marker query and waits until
  * both listeners have seen it, so every earlier event has been handled
  * (the listener bus delivers a queue's events in order). */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val qes = new ConcurrentLinkedQueue[(Long, Double)]()
  private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var marker = ""
  @volatile private var jobSeen = new CountDownLatch(1)
  @volatile private var qeSeen = new CountDownLatch(1)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val d = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      if (d != null && d == marker) markerJobs.add(e.jobId)
      else jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markerJobs.remove(e.jobId)) jobSeen.countDown()
      else Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s.longValue, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
        m.outputMetrics.bytesWritten))
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (marker.nonEmpty && qe.logical.toString.contains(marker)) qeSeen.countDown()
      else {
        val ph = qe.tracker.phases
        if (ph.nonEmpty) qes.add((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum / 1e3))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  def drain(): Unit = {
    marker = s"perfbench-drain-${System.nanoTime()}"
    jobSeen = new CountDownLatch(1)
    qeSeen = new CountDownLatch(1)
    spark.sparkContext.setJobDescription(marker)
    spark.range(0, 1, 1, 1).select(lit(marker).as("m")).collect()
    spark.sparkContext.setJobDescription(null)
    require(jobSeen.await(120, TimeUnit.SECONDS) && qeSeen.await(120, TimeUnit.SECONDS),
      "listener bus did not drain")
  }

  private def within(t: Long, ss: Seq[Harness.Span]) = ss.exists(o => t >= o.startMs && t <= o.endMs)

  /** Spark jobs started inside each measured operation. */
  def jobsPerOp(ops: Seq[Harness.Span]): Seq[Int] =
    ops.map(o => jobs.asScala.count { case (s, _) => within(s, Seq(o)) })

  /** Per-layer figures over the measured operations `ops`. */
  def layers(ops: Seq[Harness.Span],
             spans: Seq[Harness.Span]): Map[String, Double] = {
    val n = ops.size.toDouble
    def inOp(t: Long) = within(t, ops)
    val js = jobs.asScala.toSeq
    val ts = tasks.asScala.toSeq.filter(t => inOp(t.launch))
    val ss = stages.asScala.toSeq.filter(s => inOp(s.submit))
    val byStage = ts.groupBy(_.stage)
    def stageWhere(p: Seq[Task] => Boolean) =
      ss.filter(s => byStage.get(s.id).exists(p))
    val mapStages = stageWhere(g => g.map(_.input).sum > 0 && g.map(_.shWrite).sum > 0).map(_.id).toSet
    val reduceStages = stageWhere(g => g.map(_.shRead).sum > 0)
    val writeStages = stageWhere(g => g.map(_.output).sum > 0)
    val outside = ops.map { o =>
      val iv = js.filter { case (s, _) => within(s, Seq(o)) }
        .map { case (s, e) => (s, math.min(e, o.endMs)) }.sortBy(_._1)
      var covered = 0L
      var end = o.startMs
      iv.foreach { case (s, e) =>
        val from = math.max(s, end)
        if (e > from) { covered += e - from; end = e }
      }
      (o.endMs - o.startMs - covered) / 1e3
    }
    def named(k: String) = spans.filter(_.name == k)
    def jobsIn(ss: Seq[Harness.Span]) = js.count { case (s, _) => within(s, ss) }.toDouble
    val mb = 1e6
    Map(
      "spark.jobs_per_op" -> jobsPerOp(ops).sum / n,
      "spark.stages_per_op" -> ss.size / n,
      "spark.tasks_per_op" -> ts.size / n,
      "spark.outside_jobs_s_per_op" -> outside.sum / n,
      "sql.planning_s_per_op" -> qes.asScala.toSeq.filter(q => inOp(q._1)).map(_._2).sum / n,
      "sed.chain_build_ms" -> median(named("chain").filter(_.parent >= 0).map(_.seconds * 1e3)),
      "io.read_call_s" -> median(named("read").filter(_.parent >= 0).map(_.seconds)),
      "io.read_call_jobs" -> jobsIn(named("read").filter(_.parent >= 0)) /
        math.max(1, named("read").count(_.parent >= 0)),
      "io.input_mb_per_op" -> ts.map(_.input).sum / mb / n,
      "io.write_s_per_op" -> writeStages.map(s => s.done - s.submit).sum / 1e3 / n,
      "exec.map_task_cpu_s_per_op" -> ts.filter(t => mapStages(t.stage)).map(_.cpuNs).sum / 1e9 / n,
      "shuffle.write_mb_per_op" -> ts.map(_.shWrite).sum / mb / n,
      "shuffle.read_mb_per_op" -> ts.map(_.shRead).sum / mb / n,
      "spill.mb_per_op" -> ts.map(_.spill).sum / mb / n,
      "dedup.exact_s" -> median(named("dedup.exact").map(_.seconds)),
      "dedup.candidates_s" -> median(named("dedup.candidates").map(_.seconds)),
      "dedup.verify_s" -> median(named("dedup.verify").map(_.seconds)),
      "dedup.components_s" -> median(named("dedup.components").map(_.seconds)),
      "dedup.components_jobs" -> jobsIn(named("dedup.components")) /
        math.max(1, named("dedup.components").size),
      "binning.shuffle_write_mb" -> ts.filter(t => mapStages(t.stage)).map(_.shWrite).sum / mb / n,
      "binning.reduce_stage_s" -> reduceStages.map(s => s.done - s.submit).sum / 1e3 / n,
      "streaming.jobs_per_batch" -> jobsPerOp(ops).sum / n)
  }
}

object Tracer {
  final case class Stage(id: Int, submit: Long, done: Long)
  final case class Task(stage: Int, launch: Long, cpuNs: Long, input: Long, shWrite: Long,
                        shRead: Long, spill: Long, output: Long)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
